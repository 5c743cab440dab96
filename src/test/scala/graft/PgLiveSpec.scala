package graft

import java.nio.file.Files

import graft.ingest.PgLive

/** LIVE PostgreSQL end-to-end: a real `postgres` server (initdb'd into
  * a temp dir, unix-socket only), seeded over real `psql`, dumped by
  * the engine through the real `pg_dump` tool leg, masked + filtered
  * by the pipeline, restored into a SECOND real database through the
  * real `psql` leg, and verified by querying the restored server —
  * the reference's headline flow (`source/postgres.rs` →
  * `destination/postgres.rs`) against the actual tools, not stubs.
  *
  * Skips (assume()) when the postgres toolchain isn't installed or
  * can't run — every other environment still runs the stub-based
  * CliSpec coverage of the same code paths.
  */
class PgLiveSpec extends SparkSpec {

  private val pgBin = PgTestCluster.DefaultBin

  /** Paired wall-clock comparison with retry (r21, VERDICT r20 #1): the
    * suite's three throughput claims (COPY vs INSERT stream, parallel
    * vs serial parse, parallel vs single-pipe restore) are architectural
    * — the fast leg wins by integer factors on a quiet host — but a
    * single paired measurement can flip under a one-off host stall
    * (the driver's runner executes this suite after 25 other suites,
    * under whatever else the machine is doing). Re-measuring BOTH legs
    * and comparing per-leg minima keeps the claim honest (the fast leg
    * must actually measure faster) while absorbing transient
    * contention — the same min-of-N discipline the bench applies.
    */
  private def assertFasterWithRetry(name: String, attempts: Int = 3)(
      fast: () => Double, slow: () => Double): (Double, Double) = {
    var fastMin = Double.MaxValue
    var slowMin = Double.MaxValue
    var tries = 0
    while (tries < attempts && fastMin >= slowMin) {
      if (tries > 0)
        println(f"$name: retry ${tries} (fast=$fastMin%.2f s not under slow=$slowMin%.2f s)")
      slowMin = math.min(slowMin, slow())
      fastMin = math.min(fastMin, fast())
      tries += 1
    }
    assert(fastMin < slowMin,
      f"$name: fast leg $fastMin%.2f s not faster than slow leg $slowMin%.2f s after $tries paired attempts")
    (fastMin, slowMin)
  }

  /** One scratch cluster per suite — see [[PgTestCluster]] (extracted
    * r20 so the spool scale probe can drive the same real server).
    */
  private lazy val cluster: Option[PgTestCluster] = PgTestCluster.maybe(pgBin)

  override def afterAll(): Unit = {
    cluster.foreach(_.stop(pgBin))
    super.afterAll()
  }

  private def uri(c: PgTestCluster, db: String): String =
    s"postgres://graft@localhost/$db?host=${c.sock}"

  test("pg live: dump create via pg_dump -> masked+filtered store -> psql restore -> verify") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE livedb")
      c.psql("postgres", "CREATE DATABASE restoredb")
      c.psql("livedb",
        """CREATE TABLE users(id int PRIMARY KEY, email text, note text);
          |INSERT INTO users VALUES
          |  (1, 'alice@real.test', 'it''s quoted'),
          |  (2, 'bob@real.test', NULL),
          |  (3, 'carol@real.test', 'line
          |break');
          |CREATE TABLE secrets(id int PRIMARY KEY, token text);
          |INSERT INTO secrets VALUES (1, 'tok-123');
          |CREATE TABLE orders(id int PRIMARY KEY, user_id int REFERENCES users(id), amount numeric(10,2));
          |INSERT INTO orders VALUES (10, 1, 12.50), (11, 2, 99.99);
          |""".stripMargin)

      val store = tempDir("graft-pglive-store-").toString
      val conf = tempFile("graft-pglive-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "livedb")}
           |  skip_tables: [public.secrets]
           |  transformers:
           |    - database: public
           |      table: users
           |      columns:
           |        - name: email
           |          transformer_name: email
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  connection_uri: ${uri(c, "restoredb")}
           |""".stripMargin)

      val printed = collection.mutable.Buffer[String]()
      // the pg_dump spool holds UNMASKED rows: the command must delete it
      val spoolsBefore = spools()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pglive-e2e"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("dump created from file: pglive-e2e")))
      assert(spools() == spoolsBefore, "dump create left its pg_dump spool behind")

      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pglive-e2e"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("restored: users")))
      assert(printed.exists(_.contains("restored: orders")))

      // the restored LIVE database: rows intact, emails masked, the
      // skipped table never restored, value edge cases (quote, NULL,
      // embedded newline, numeric) survive the full round trip
      assert(c.psql("restoredb", "SELECT count(*) FROM users") == "3")
      val emails = c.psql("restoredb", "SELECT email FROM users ORDER BY id")
      assert(!emails.contains("real.test"), s"emails not masked: $emails")
      assert(c.psql("restoredb", "SELECT note FROM users WHERE id=1") == "it's quoted")
      assert(c.psql("restoredb", "SELECT note IS NULL FROM users WHERE id=2") == "t")
      assert(c.psql("restoredb", "SELECT note FROM users WHERE id=3") == "line\nbreak")
      assert(c.psql("restoredb", "SELECT amount FROM orders WHERE id=11") == "99.99")
      assert(c.psql("restoredb",
        "SELECT count(*) FROM information_schema.tables " +
          "WHERE table_schema='public' AND table_name='secrets'") == "0")

      // wipe=true re-run is idempotent: same counts, not doubled
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pglive-e2e"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(c.psql("restoredb", "SELECT count(*) FROM users") == "3")
      assert(c.psql("restoredb", "SELECT count(*) FROM orders") == "2")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: FK-closure subset (the reference's database_subset) end-to-end on a real server") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE subsetdb")
      c.psql("postgres", "CREATE DATABASE subsetrest")
      c.psql("subsetdb",
        """CREATE TABLE users(id int PRIMARY KEY, email text);
          |INSERT INTO users SELECT g, 'u' || g || '@x.test' FROM generate_series(1, 20) g;
          |CREATE TABLE orders(id int PRIMARY KEY, user_id int REFERENCES users(id), amount numeric(8,2));
          |INSERT INTO orders SELECT g, ((g - 1) % 20) + 1, g * 1.25 FROM generate_series(1, 60) g;
          |""".stripMargin)
      val store = tempDir("graft-pgsubset-store-").toString
      val conf = tempFile("graft-pgsubset-conf-", ".yaml")
      // the reference's canonical subset shape: seed the CHILD (fact)
      // table at a percent; the closure walks child -> parent and pulls
      // exactly the referenced users (subset/src/postgres.rs:104-170)
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "subsetdb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |subset:
           |  table: orders
           |  seed_key: id
           |  percent: 50
           |destination:
           |  connection_uri: ${uri(c, "subsetrest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-subset"),
        spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-subset"),
        spark, printed += _) == 0, printed.mkString("\n"))

      // a strict subset of orders survived; the FK closure pulled their
      // users (and only those), so referential integrity held through
      // pg_dump -> subset -> store -> psql restore — the FK edges came
      // from the REAL dump's ALTER TABLE ... FOREIGN KEY statements
      val nOrders = c.psql("subsetrest", "SELECT count(*) FROM orders").toInt
      assert(nOrders > 0 && nOrders < 60, s"expected a strict order subset, got $nOrders/60")
      val nUsers = c.psql("subsetrest", "SELECT count(*) FROM users").toInt
      assert(nUsers > 0 && nUsers <= 20, s"unexpected user count $nUsers")
      assert(c.psql("subsetrest",
        "SELECT count(*) FROM orders o LEFT JOIN users u ON o.user_id = u.id " +
          "WHERE u.id IS NULL") == "0")
      // only the REFERENCED users came along (reference semantics:
      // parents of kept children, not the whole parent table)
      assert(c.psql("subsetrest",
        "SELECT count(*) FROM users u WHERE NOT EXISTS " +
          "(SELECT 1 FROM orders o WHERE o.user_id = u.id)") == "0")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: self-referencing FK (cyclic closure path) subsets with ancestors intact") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE empdb")
      c.psql("postgres", "CREATE DATABASE emprest")
      // a management heap: manager(id) = id/2, root 1 has NULL — the
      // self-edge defeats the topological order, so this drives the
      // ITERATIVE (cyclic) closure against FK edges parsed from a real
      // dump's self-referencing ALTER TABLE
      c.psql("empdb",
        """CREATE TABLE emp(id int PRIMARY KEY, manager_id int REFERENCES emp(id));
          |INSERT INTO emp SELECT g, NULLIF(g / 2, 0) FROM generate_series(1, 30) g;
          |""".stripMargin)
      val store = tempDir("graft-pgemp-store-").toString
      val conf = tempFile("graft-pgemp-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "empdb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |subset:
           |  table: emp
           |  seed_key: id
           |  percent: 25
           |destination:
           |  connection_uri: ${uri(c, "emprest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-emp"),
        spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-emp"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val n = c.psql("emprest", "SELECT count(*) FROM emp").toInt
      assert(n > 0 && n < 30, s"expected a strict subset, got $n/30")
      // every kept employee's full management chain came along
      assert(c.psql("emprest",
        "SELECT count(*) FROM emp e WHERE e.manager_id IS NOT NULL AND NOT EXISTS " +
          "(SELECT 1 FROM emp m WHERE m.id = e.manager_id)") == "0")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: only_tables pushes down to pg_dump (schema-qualified --table) and scopes the dump") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      val store = tempDir("graft-pgonly-store-").toString
      val outDir = tempDir("graft-pgonly-out-").toString
      val conf = tempFile("graft-pgonly-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "livedb")}
           |  only_tables: [public.users]
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  output_dir: $outDir
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-only"),
        spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-only"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("restored: users")))
      // orders/secrets never left the server: excluded at the TOOL, not
      // just filtered downstream
      assert(!printed.exists(_.contains("restored: orders")))
      assert(!printed.exists(_.contains("restored: secrets")))
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: source schema prints DDL-typed schemas from the pg_dump stream") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      val conf = tempFile("graft-pglive-schema-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "livedb")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      val spoolsBefore = spools()
      assert(Cli.run(Seq("-c", conf.toString, "source", "schema"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val text = printed.mkString("\n")
      assert(text.contains("table: public.users"))
      assert(text.contains("table: public.orders"))
      // typed from the real dump's DDL, not string-defaulted: integer
      // columns surface as long, numeric(10,2) keeps its precision
      assert(text.matches("(?s).*id: long.*"), text)
      assert(text.matches("(?s).*amount: decimal\\(10,2\\).*"), text)
      assert(spools() == spoolsBefore, "source schema left its pg_dump spool behind")
      // a failing pg_dump (no such database) leaves no partial spool
      // behind, on either command
      val bad = tempFile("graft-pglive-bad-", ".yaml")
      Files.writeString(bad,
        s"""source:
           |  connection_uri: ${uri(c, "graft_no_such_db")}
           |datastore:
           |  local_disk:
           |    dir: ${tempDir("graft-pglive-bad-store-")}
           |""".stripMargin)
      for (cmd <- Seq(Seq("source", "schema"), Seq("dump", "create", "pg-bad"))) {
        val e = intercept[IllegalStateException] {
          Cli.run(Seq("-c", bad.toString) ++ cmd, spark, _ => ())
        }
        assert(e.getMessage.contains("graft_no_such_db"), e.getMessage)
        assert(spools() == spoolsBefore, s"${cmd.mkString(" ")} left a partial pg_dump spool")
      }
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: the headline 'pg_dump | graft dump create -i' pipe flow") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    // REAL pg_dump stdout wired straight into the CLI's stdin — the
    // reference's front-page usage (`pg_dump … | replibyte dump create`,
    // source/postgres_stdin.rs): stdin spools once, then the identical
    // distributed dump-file pipeline runs
    val store = tempDir("graft-pgpipe-store-").toString
    val conf = tempFile("graft-pgpipe-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  tables_dir: /nonexistent-unused
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  output_dir: ${tempDir("graft-pgpipe-out-")}
         |""".stripMargin)
    val pb = new java.lang.ProcessBuilder(("pg_dump" +: ("--column-inserts" +: "--no-owner" +:
      Seq("-h", c.sock, "-U", "graft", "livedb"))): _*)
    val proc = pb.start()
    val printed = collection.mutable.Buffer[String]()
    try {
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-pipe", "-i"),
        spark, printed += _, stdin = proc.getInputStream) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("dump created from file: pg-pipe")))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-pipe"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("restored: users")))
    } finally { proc.waitFor(); () }
  }

  test("pg live: pg_dump's DEFAULT COPY format parses through dump create --file") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    // no --column-inserts: real pg_dump emits COPY … FROM stdin blocks
    // (tab-separated, \N nulls, backslash escapes) — the S5 COPY parser
    // against the actual tool's output, not our own re-synthesis
    val dump = tempFile("graft-pgcopy-", ".sql")
    val pb = new java.lang.ProcessBuilder("pg_dump", "--no-owner",
      "-h", c.sock, "-U", "graft", "-f", dump.toString, "livedb")
    assert(pb.start().waitFor() == 0)
    assert(Files.readString(dump).contains("FROM stdin"), "expected COPY-format dump")
    val store = tempDir("graft-pgcopy-store-").toString
    val outDir = tempDir("graft-pgcopy-out-").toString
    val conf = tempFile("graft-pgcopy-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  tables_dir: /nonexistent-unused
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  output_dir: $outDir
         |""".stripMargin)
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-copy",
      "--file", dump.toString), spark, printed += _) == 0, printed.mkString("\n"))
    printed.clear()
    assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-copy"),
      spark, printed += _) == 0, printed.mkString("\n"))
    // the restored parquet carries the COPY rows with edge cases intact
    val users = spark.read.parquet(s"$outDir/users").collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.get(r.fieldIndex("note")))).toMap
    assert(users.size == 3)
    assert(users(1L) == "it's quoted")
    assert(users(2L) == null)
    assert(users(3L) == "line\nbreak")
  }

  test("pg live: exotic types survive the full roundtrip (bytea, timestamps, special floats, 2^53+1, unicode, $$ in strings)") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE exoticdb")
      c.psql("postgres", "CREATE DATABASE exoticrest")
      c.psql("exoticdb",
        """CREATE TABLE exotic(
          |  id int PRIMARY KEY, b bytea, ts timestamp, d date,
          |  f8 double precision, n numeric(12,4), big bigint, bool boolean,
          |  txt text, uni text, arr int[], js jsonb, uid uuid);
          |INSERT INTO exotic VALUES
          | (1, '\x68656c6c6f', '2026-01-02 03:04:05.678901', '2026-03-15',
          |  2.718281828459045, 12345.6789, 9007199254740993, true, E'tab\there', 'émojis 🎉 中文',
          |  '{1,2,3}', '{"k": "v", "n": [1, 2]}', 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'),
          | (2, NULL, NULL, NULL, 'Infinity', NULL, -1, false, 'dollar $$ quote', NULL,
          |  '{}', 'null', NULL),
          | (3, '\x00ff', '1970-01-01 00:00:00', NULL, 'NaN', 0.0001, 0, NULL, E'back\\slash', '-Infinity 0x1p3',
          |  NULL, '{"quote": "it''s"}', NULL)
          |""".stripMargin)
      val store = tempDir("graft-pgexotic-store-").toString
      val conf = tempFile("graft-pgexotic-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "exoticdb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  connection_uri: ${uri(c, "exoticrest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-exotic"),
        spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-exotic"),
        spark, printed += _) == 0, printed.mkString("\n"))

      // column-by-column equality, adjudicated by the SERVER: dump both
      // databases' rows through the same normalization and compare
      def snapshot(db: String): String = c.psql(db,
        "SELECT id, encode(b,'hex'), ts, d, f8::text, n, big, bool, md5(txt), md5(uni), " +
          "arr, js, uid FROM exotic ORDER BY id")
      assert(snapshot("exoticrest") == snapshot("exoticdb"),
        s"restored:\n${snapshot("exoticrest")}\nsource:\n${snapshot("exoticdb")}")
      // the landmines explicitly: special floats, the 2^53+1 long, and
      // container types restored AS their declared types
      assert(c.psql("exoticrest", "SELECT f8::text FROM exotic WHERE id=2") == "Infinity")
      assert(c.psql("exoticrest", "SELECT f8::text FROM exotic WHERE id=3") == "NaN")
      assert(c.psql("exoticrest", "SELECT big FROM exotic WHERE id=1") == "9007199254740993")
      assert(c.psql("exoticrest", "SELECT arr[2] FROM exotic WHERE id=1") == "2")
      assert(c.psql("exoticrest", "SELECT js->>'k' FROM exotic WHERE id=1") == "v")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: exotic values through pg_dump's default COPY format, restored to a live db") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      // depends on exoticdb seeded by the INSERT-format test; tests run
      // in file order within the suite, but guard anyway
      val seeded = c.psql("postgres",
        "SELECT count(*) FROM pg_database WHERE datname='exoticdb'") == "1"
      assume(seeded, "exoticdb not seeded")
      c.psql("postgres", "CREATE DATABASE exoticcopyrest")
      // COPY text format: bare Infinity/NaN, backslash-escaped \\x bytea,
      // \t escapes inside text — the tool's DEFAULT layout
      val dump = tempFile("graft-pgcopyx-", ".sql")
      val pb = new java.lang.ProcessBuilder("pg_dump", "--no-owner",
        "-h", c.sock, "-U", "graft", "-f", dump.toString, "exoticdb")
      assert(pb.start().waitFor() == 0)
      assert(Files.readString(dump).contains("FROM stdin"))
      val store = tempDir("graft-pgcopyx-store-").toString
      val conf = tempFile("graft-pgcopyx-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  tables_dir: /nonexistent-unused
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  connection_uri: ${uri(c, "exoticcopyrest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-copyx",
        "--file", dump.toString), spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-copyx"),
        spark, printed += _) == 0, printed.mkString("\n"))
      def snapshot(db: String): String = c.psql(db,
        "SELECT id, encode(b,'hex'), ts, d, f8::text, n, big, bool, md5(txt), md5(uni), " +
          "arr, js, uid FROM exotic ORDER BY id")
      assert(snapshot("exoticcopyrest") == snapshot("exoticdb"),
        s"restored:\n${snapshot("exoticcopyrest")}\nsource:\n${snapshot("exoticdb")}")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg conn: jdbc url parsing incl. libpq host= socket-dir override") {
    val p = PgLive.Conn.fromJdbcUrl(
      "jdbc:postgresql://localhost:5432/livedb?host=/tmp/sock&sslmode=disable",
      Some("u"), Some("pw"))
    assert(p.host == "/tmp/sock" && p.port == 5432 && p.db == "livedb")
    assert(PgLive.dumpArgs(p, Seq("users")) ==
      Seq("--column-inserts", "--no-owner", "-h", "/tmp/sock", "-p", "5432",
        "-U", "u", "--table=users", "livedb"))
    assert(PgLive.restoreArgs(p) ==
      Seq("-h", "/tmp/sock", "-p", "5432", "-U", "u", "-d", "livedb",
        "-v", "ON_ERROR_STOP=1"))
  }
  test("pg live: COPY-restore landmines — terminator-lookalike rows, tabs/CR/LF, trailing backslash, empty-vs-NULL") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE copylanddb")
      c.psql("postgres", "CREATE DATABASE copylandrest")
      // every value the COPY text format can get wrong: a row whose
      // text is literally the terminator line, one that is literally
      // the null marker, embedded tab / CR / LF, a trailing backslash,
      // and the empty-string-vs-NULL distinction (r17 verdict #7: the
      // INSERT e2e covered these; the restore leg now streams COPY,
      // so the WRITE-side escape set meets a real server here)
      c.psql("copylanddb",
        """CREATE TABLE land(id int PRIMARY KEY, txt text);
          |INSERT INTO land VALUES
          |  (1, E'\\.'),
          |  (2, E'\\N'),
          |  (3, E'a\tb'),
          |  (4, E'c\rd'),
          |  (5, E'line\nbreak'),
          |  (6, E'trail\\'),
          |  (7, ''),
          |  (8, NULL),
          |  (9, E'x\\t\t\\n\n\\');
          |""".stripMargin)
      val store = tempDir("graft-pgcopyland-store-").toString
      val conf = tempFile("graft-pgcopyland-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "copylanddb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  connection_uri: ${uri(c, "copylandrest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-copyland"),
        spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-copyland"),
        spark, printed += _) == 0, printed.mkString("\n"))
      def snapshot(db: String): String = c.psql(db,
        "SELECT id, txt IS NULL, md5(coalesce(txt, '<null>')), " +
          "length(coalesce(txt,'')) FROM land ORDER BY id")
      assert(snapshot("copylandrest") == snapshot("copylanddb"),
        s"restored:\n${snapshot("copylandrest")}\nsource:\n${snapshot("copylanddb")}")
      // the landmines explicitly, read back from the restored server
      assert(c.psql("copylandrest", "SELECT txt FROM land WHERE id=1") == "\\.")
      assert(c.psql("copylandrest", "SELECT txt FROM land WHERE id=2") == "\\N")
      assert(c.psql("copylandrest", "SELECT txt FROM land WHERE id=3") == "a\tb")
      assert(c.psql("copylandrest", "SELECT txt FROM land WHERE id=6") == "trail\\")
      assert(c.psql("copylandrest", "SELECT txt = '' FROM land WHERE id=7") == "t")
      assert(c.psql("copylandrest", "SELECT txt IS NULL FROM land WHERE id=8") == "t")
      // wipe re-run stays idempotent through the COPY path
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-copyland"),
        spark, _ => ()) == 0)
      assert(c.psql("copylandrest", "SELECT count(*) FROM land") == "9")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: COPY restore leg vs per-row INSERT stream — measured load throughput") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    import spark.implicits._
    c.psql("postgres", "CREATE DATABASE loadbench")
    val n = 50000
    val df = spark.range(n.toLong).select(
      $"id", ($"id" % 997 * 3.25).as("amount"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("note-"), $"id").as("note"))
      .coalesce(4).persist()
    assert(df.count() == n)
    val conn = graft.ingest.PgLive.Conn(c.sock, 5432, "loadbench", Some("graft"), None)
    def timed(label: String)(write: java.io.OutputStream => Unit): Double = {
      c.psql("loadbench", "DROP TABLE IF EXISTS bench")
      val t0 = System.nanoTime()
      graft.ingest.PgLive.restore(conn, o => {
        val w = new java.io.OutputStreamWriter(o, java.nio.charset.StandardCharsets.UTF_8)
        w.write(graft.ingest.PgLive.createTableSql("public.bench", df.schema))
        w.write("\n"); w.flush()
        write(o)
      }, wipe = false)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(c.psql("loadbench", "SELECT count(*) FROM bench") == n.toString)
      println(f"PGLOAD $label rows=$n sec=$sec%.2f rate=${n / sec}%.0f rows/s")
      sec
    }
    // the pre-r18 restore stream: one INSERT statement per row
    def insertLeg(): Double = timed("insert-per-row") { o =>
      val w = new java.io.OutputStreamWriter(o, java.nio.charset.StandardCharsets.UTF_8)
      val it = graft.ingest.DumpSink.toInsertStatements(df, "public", "bench").toLocalIterator()
      while (it.hasNext) { w.write(it.next()); w.write("\n") }
      w.flush()
    }
    // the r18 restore stream: one COPY block per partition
    def copyLeg(): Double = timed("copy-blocks") { o =>
      val w = new java.io.OutputStreamWriter(o, java.nio.charset.StandardCharsets.UTF_8)
      val it = graft.ingest.DumpSink.toCopyText(df, "public", "bench").toLocalIterator()
      while (it.hasNext) { w.write(it.next()); w.write("\n") }
      w.flush()
    }
    // COPY is psql's native bulk path — it must not be slower; the
    // measured ratio goes into PLANS.md (r17 verdict #2 done criterion).
    // Paired min-of-N retry absorbs one-off host stalls (r21).
    try assertFasterWithRetry("copy-vs-insert")(copyLeg _, insertLeg _)
    finally df.unpersist()
  }
  test("pg live: dump-create throughput at 1M rows — chunked spool parses executor-parallel (r18 verdict #6)") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    c.psql("postgres", "CREATE DATABASE dumpbench")
    c.psql("dumpbench",
      """CREATE TABLE big(id int PRIMARY KEY, email text, amount numeric(10,2), note text);
        |INSERT INTO big SELECT g, 'user'||g||'@real.test', (g % 997) * 3.25,
        |  'note-'||g||' it''s row '||g FROM generate_series(1, 1000000) g;
        |""".stripMargin)
    val n = 1000000L

    // the source bound: pg_dump itself, streamed to the chunked spool
    // (this is the single stream the reference ALSO pays — its one CPU
    // then parses it serially; ours fans the parts out to executors)
    val spoolDir = tempDir("graft-dumpbench-spool-")
    val conn = graft.ingest.PgLive.Conn(c.sock, 5432, "dumpbench", Some("graft"), None)
    val t0 = System.nanoTime()
    val parts = graft.ingest.ChunkedSpool.write(i => {
      new java.io.FileOutputStream(spoolDir.resolve(f"part-$i%05d.sql").toFile)
    }, pg = Some(true), chunkBytes = 8 * 1024 * 1024)(o =>
      graft.ingest.PgLive.dumpToStream(conn, o))
    val dumpSec = (System.nanoTime() - t0) / 1e9
    assert(parts > 4, s"1M-row dump should roll several 8 MB parts, got $parts")

    // the CLI flow end-to-end (pg_dump -> chunked spool -> distributed
    // parse -> mask -> re-synthesize -> datastore), the headline rows/s
    // — run FIRST so every parse path is JIT-warm before the
    // parallel-vs-serial comparison below (both sides share the code)
    spark.conf.set("spark.graft.pgMode", "tools")
    spark.conf.set("spark.graft.spoolChunkMb", "8")
    try {
      val store = tempDir("graft-dumpbench-store-").toString
      val conf = tempFile("graft-dumpbench-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "dumpbench")}
           |  transformers:
           |    - database: public
           |      table: big
           |      columns:
           |        - name: email
           |          transformer_name: email
           |datastore:
           |  local_disk:
           |    dir: $store
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      val t3 = System.nanoTime()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "bench-1m"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val createSec = (System.nanoTime() - t3) / 1e9

      // distributed parse in isolation, the exact `dump create --file`
      // shape: persisted statements + the dump's own DDL (single typed
      // pass, no inference)
      // one measured distributed pass; the paired retry below applies
      // the bench's min-of-N convention so one GC hiccup can't flip the
      // comparison
      def parLeg(): Double = {
        val t1 = System.nanoTime()
        val stmts = graft.ingest.DumpReader.statements(spark, spoolDir.toString)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ddl = stmts.filter(_.kind == graft.model.StatementKind.CreateTable)
          .collect().find(_.table == "big").map(_.sql)
        assert(ddl.isDefined, "pg_dump stream carried no CREATE TABLE big")
        val parsed = graft.ingest.DumpReader
          .tableFromDump(stmts, "public", "big", ddl).count()
        val sec = (System.nanoTime() - t1) / 1e9
        stmts.unpersist()
        assert(parsed == n)
        sec
      }

      // single-thread baseline: the SAME work (split + row parse +
      // value render) over one part, extrapolated linearly by byte
      // share — the reference's architecture does all of this on one
      // CPU (512 MB / 1 CPU envelope, docs/DESIGN.md)
      val partFiles = spoolDir.toFile.listFiles().filter(_.getName.endsWith(".sql"))
      val totalBytes = partFiles.map(_.length).sum
      val one = partFiles.sortBy(_.getName).apply(1) // a headerless mid part
      val text = java.nio.file.Files.readString(one.toPath)
      def serialLeg(): Double = {
        val t2 = System.nanoTime()
        var rows1 = 0L
        graft.ingest.StatementSplitter.split(text, Some(true)).foreach { r =>
          if (r.kind == graft.model.StatementKind.InsertInto)
            graft.ingest.InsertParser.parseMulti(r.text, pgStrings = true).foreach { v =>
              rows1 += v.size
              v.foreach(_.values.foreach(x => if (x != graft.ingest.InsertParser.SqlNull) x.render))
            }
        }
        val oneSec = (System.nanoTime() - t2) / 1e9
        assert(rows1 > 0)
        oneSec * totalBytes.toDouble / one.length
      }

      // the scale claim: the distributed typed parse beats the
      // single-thread parse estimate (at 4 local cores; executor
      // counts scale it — each 100 MB part is an independent task).
      // Paired min-of-N retry absorbs one-off host stalls (r21).
      val (parSec, serialSec) =
        assertFasterWithRetry("par-vs-serial-parse")(parLeg _, serialLeg _)
      println(f"PGDUMPCREATE rows=$n parts=$parts pg_dump=$dumpSec%.1fs " +
        f"par_parse=$parSec%.1fs serial_parse_est=$serialSec%.1fs " +
        f"cli_total=$createSec%.1fs rate=${n / createSec}%.0f rows/s")
      // and the store holds all 1M rows, masked
      graft.pipeline.Pipeline.restore(new graft.store.Datastore(store, spark), "bench-1m") { (t, _) =>
        val back = t("big")
        assert(back.count() == n)
        assert(back.filter(back("email").contains("real.test")).count() == 0)
      }

      // close the cycle at 1M: restore the stored dump into a live
      // database through the COPY leg and let the SERVER count it
      c.psql("postgres", "CREATE DATABASE benchrest")
      Files.writeString(conf, Files.readString(conf) +
        s"""destination:
           |  connection_uri: ${uri(c, "benchrest")}
           |""".stripMargin)
      val t4 = System.nanoTime()
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "bench-1m"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val restoreSec = (System.nanoTime() - t4) / 1e9
      assert(c.psql("benchrest", "SELECT count(*) FROM big") == n.toString)
      assert(c.psql("benchrest",
        "SELECT count(*) FROM big WHERE email LIKE '%real.test%'") == "0")
      // the universal ride-along DDL gives the server source-exact types
      assert(c.psql("benchrest",
        "SELECT data_type FROM information_schema.columns " +
          "WHERE table_name='big' AND column_name='amount'") == "numeric")
      println(f"PGRESTORE1M rows=$n sec=$restoreSec%.1f rate=${n / restoreSec}%.0f rows/s")
    } finally {
      spark.conf.unset("spark.graft.pgMode")
      spark.conf.unset("spark.graft.spoolChunkMb")
      org.apache.commons.io.FileUtils.deleteDirectory(spoolDir.toFile)
    }
  }

  test("pg live: camelCase and reserved-word identifiers survive dump -> restore (quoted stream)") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE camedb")
      c.psql("postgres", "CREATE DATABASE camerest")
      // pg_dump emits these QUOTED; the parser unquotes them into the
      // frame — the restore stream must re-quote both the DDL it
      // synthesizes/replays AND the COPY header, or the server
      // case-folds "Id" to id / chokes on the reserved words
      c.psql("camedb",
        """CREATE TABLE "Users"("Id" int PRIMARY KEY, "order" text, "select" int);
          |INSERT INTO "Users" VALUES (1, 'first order', 10), (2, 'it''s', 20);
          |""".stripMargin)
      val store = tempDir("graft-pgcamel-store-").toString
      val conf = tempFile("graft-pgcamel-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "camedb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  connection_uri: ${uri(c, "camerest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-camel"),
        spark, printed += _) == 0, printed.mkString("\n"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-camel"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("restored: Users")), printed.mkString("\n"))
      assert(c.psql("camerest", "SELECT count(*) FROM \"Users\"") == "2")
      assert(c.psql("camerest",
        "SELECT \"order\" FROM \"Users\" WHERE \"Id\" = 2") == "it's")
      assert(c.psql("camerest",
        "SELECT sum(\"select\") FROM \"Users\"") == "30")
    } finally spark.conf.unset("spark.graft.pgMode")
  }
  test("pg live: wipe=false restore APPENDS through the COPY path (synthesized IF NOT EXISTS DDL)") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE appenddb")
      c.psql("postgres", "CREATE DATABASE appendrest")
      c.psql("appenddb",
        """CREATE TABLE items(id int, name text);
          |INSERT INTO items VALUES (1, 'one'), (2, 'two'), (3, 'three');
          |""".stripMargin)
      val store = tempDir("graft-pgappend-store-").toString
      def conf(wipe: Boolean): String = {
        val f = tempFile("graft-pgappend-conf-", ".yaml")
        Files.writeString(f,
          s"""source:
             |  connection_uri: ${uri(c, "appenddb")}
             |datastore:
             |  local_disk:
             |    dir: $store
             |destination:
             |  connection_uri: ${uri(c, "appendrest")}
             |  wipe: $wipe
             |""".stripMargin)
        f.toString
      }
      assert(Cli.run(Seq("-c", conf(true), "dump", "create", "pg-append"),
        spark, _ => ()) == 0)
      // first restore wipes and loads 3; the second APPENDS (no wipe,
      // synthesized CREATE TABLE IF NOT EXISTS survives the existing
      // table under ON_ERROR_STOP, COPY appends) -> 6
      assert(Cli.run(Seq("-c", conf(true), "dump", "restore", "pg-append"),
        spark, _ => ()) == 0)
      assert(c.psql("appendrest", "SELECT count(*) FROM items") == "3")
      assert(Cli.run(Seq("-c", conf(false), "dump", "restore", "pg-append"),
        spark, _ => ()) == 0)
      assert(c.psql("appendrest", "SELECT count(*) FROM items") == "6")
      assert(c.psql("appendrest",
        "SELECT count(*) FROM items WHERE name = 'two'") == "2")
    } finally spark.conf.unset("spark.graft.pgMode")
  }
  test("pg live: encrypted + compressed datastore round-trips to a live server; chunks hold no plaintext") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE encdb")
      c.psql("postgres", "CREATE DATABASE encrest")
      c.psql("encdb",
        """CREATE TABLE vault(id int, secret text);
          |INSERT INTO vault VALUES (1, 'plaintext-canary-alpha'), (2, 'plaintext-canary-beta');
          |""".stripMargin)
      val store = tempDir("graft-pgenc-store-")
      val conf = tempFile("graft-pgenc-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "encdb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |  compression: true
           |encryption_key: r18-live-e2e-key
           |destination:
           |  connection_uri: ${uri(c, "encrest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-enc"),
        spark, printed += _) == 0, printed.mkString("\n"))
      // X1/X2 actually engaged: no stored byte sequence contains the
      // canary (zlib alone could leave short strings visible; AES-GCM
      // must not)
      val canary = "plaintext-canary".getBytes("UTF-8")
      def containsSeq(hay: Array[Byte], needle: Array[Byte]): Boolean =
        hay.indices.exists(i => i + needle.length <= hay.length &&
          needle.indices.forall(j => hay(i + j) == needle(j)))
      val walk = java.nio.file.Files.walk(store)
      val leaked = try {
        val it = walk.iterator()
        var acc = List.empty[java.nio.file.Path]
        while (it.hasNext) {
          val f = it.next()
          if (java.nio.file.Files.isRegularFile(f) &&
              containsSeq(java.nio.file.Files.readAllBytes(f), canary)) acc ::= f
        }
        acc
      } finally walk.close()
      assert(leaked.isEmpty, s"plaintext canary found in stored chunks: $leaked")
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-enc"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(c.psql("encrest", "SELECT secret FROM vault WHERE id=1") ==
        "plaintext-canary-alpha")
      assert(c.psql("encrest", "SELECT count(*) FROM vault") == "2")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: a psql failure mid-restore surfaces loudly with the tool's stderr") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      // restore into a database that DOES NOT EXIST: psql exits nonzero
      // with its own error text; the leg must throw carrying it (the
      // reference's loud-failure behavior), never report success
      c.psql("postgres", "CREATE DATABASE pgfaildb")
      c.psql("pgfaildb",
        """CREATE TABLE t(id int); INSERT INTO t VALUES (1);""")
      val store = tempDir("graft-pgfail-store-").toString
      val conf = tempFile("graft-pgfail-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  connection_uri: ${uri(c, "pgfaildb")}
           |datastore:
           |  local_disk:
           |    dir: $store
           |destination:
           |  connection_uri: ${uri(c, "graft_no_such_db")}
           |""".stripMargin)
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "pg-fail"),
        spark, _ => ()) == 0)
      val e = intercept[IllegalStateException] {
        Cli.run(Seq("-c", conf.toString, "dump", "restore", "pg-fail"), spark, _ => ())
      }
      assert(e.getMessage.contains("graft_no_such_db") ||
        e.getMessage.toLowerCase.contains("does not exist"), e.getMessage)
    } finally spark.conf.unset("spark.graft.pgMode")
  }
  test("pg live: a BINARY-typed source frame restores as true bytea via the synthesized DDL + COPY hex text") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      c.psql("postgres", "CREATE DATABASE binrest")
      // the JDBC/Mongo source shape the dump-file path never produces:
      // a frame whose column IS BinaryType (incl. a NUL byte, which no
      // pg text value can carry). Pipeline.dump hex-encodes the data
      // and synthesizes a bytea DDL; the live restore must hand the
      // server REAL bytea, not text
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = true)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(1L, Array[Byte](0x41, 0x00, 0xff.toByte)),
          Row(2L, null)), 2), schema)
      val storeDir = tempDir("graft-pgbin-store-").toString
      val store = new graft.store.Datastore(s"file://$storeDir", spark)
      graft.pipeline.Pipeline.dump(spark, (_: String) => df, store, "bin-live",
        graft.pipeline.Pipeline.DumpJobConfig(tables = Seq("blobby")))
      val conf = tempFile("graft-pgbin-conf-", ".yaml")
      Files.writeString(conf,
        s"""source:
           |  tables_dir: /unused
           |datastore:
           |  local_disk:
           |    dir: $storeDir
           |destination:
           |  connection_uri: ${uri(c, "binrest")}
           |""".stripMargin)
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "bin-live"),
        spark, printed += _) == 0, printed.mkString("\n"))
      // the server's OWN type introspection adjudicates: bytea, with
      // the exact bytes (NUL included) and the NULL intact
      assert(c.psql("binrest",
        "SELECT data_type FROM information_schema.columns " +
          "WHERE table_name='blobby' AND column_name='payload'") == "bytea")
      assert(c.psql("binrest",
        "SELECT encode(payload,'hex') FROM blobby WHERE id=1") == "4100ff")
      assert(c.psql("binrest",
        "SELECT payload IS NULL FROM blobby WHERE id=2") == "t")
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg live: per-table PARALLEL COPY restore beats the single pipe; server counts exact (r19 verdict #5)") {
    assume(cluster.isDefined, "postgres toolchain unavailable")
    val c = cluster.get
    c.psql("postgres", "CREATE DATABASE parsrc")
    val nPer = 250000L
    val tables = Seq("t_a", "t_b", "t_c", "t_d")
    tables.foreach { t =>
      c.psql("parsrc",
        s"""CREATE TABLE $t(id int PRIMARY KEY, v text, amt numeric(8,2));
           |INSERT INTO $t SELECT g, '$t-row-'||g, (g % 83) * 1.75
           |  FROM generate_series(1, $nPer) g;""".stripMargin)
    }
    val store = tempDir("graft-parrest-store-").toString
    val conf = tempFile("graft-parrest-conf-", ".yaml")
    def confText(dest: String) =
      s"""source:
         |  connection_uri: ${uri(c, "parsrc")}
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  connection_uri: ${uri(c, dest)}
         |""".stripMargin
    spark.conf.set("spark.graft.pgMode", "tools")
    try {
      val printed = collection.mutable.Buffer[String]()
      Files.writeString(conf, confText("parrest0"))
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "par-bench"),
        spark, printed += _) == 0, printed.mkString("\n"))
      // one restore leg into a FRESH database, at the given pipe count;
      // the SERVER adjudicates exactness on every attempt (full counts
      // and per-table values — no cross-pipe interleave)
      var attempt = 0
      def restoreLeg(parallelism: Int): Double = {
        attempt += 1
        val db = s"parrest${parallelism}_$attempt"
        c.psql("postgres", s"CREATE DATABASE $db")
        Files.writeString(conf, confText(db))
        spark.conf.set("spark.graft.restoreParallelism", parallelism.toString)
        val t1 = System.nanoTime()
        assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "par-bench"),
          spark, printed += _) == 0, printed.mkString("\n"))
        val sec = (System.nanoTime() - t1) / 1e9
        for (t <- tables) {
          assert(c.psql(db, s"SELECT count(*) FROM $t") == nPer.toString, s"$db.$t")
          assert(c.psql(db, s"SELECT count(*) FROM $t WHERE v LIKE '$t-row-%'")
            == nPer.toString, s"$db.$t values")
        }
        // ride-along DDL type fidelity holds through the pipes
        assert(c.psql(db,
          "SELECT data_type FROM information_schema.columns " +
            "WHERE table_name='t_a' AND column_name='amt'") == "numeric")
        sec
      }
      // single-pipe baseline — the reference's restore shape and the
      // r19-measured ~58k rows/s bound — vs four concurrent per-table
      // pipes. Paired min-of-N retry absorbs one-off host stalls (r21).
      val (parSec, serSec) = assertFasterWithRetry("par4-vs-single-restore")(
        () => restoreLeg(4), () => restoreLeg(1))
      println(f"PGPARRESTORE tables=4 rows=${nPer * 4} single=$serSec%.1fs " +
        f"par4=$parSec%.1fs speedup=${serSec / parSec}%.2fx")
    } finally {
      spark.conf.unset("spark.graft.pgMode")
      spark.conf.unset("spark.graft.restoreParallelism")
    }
  }
}
