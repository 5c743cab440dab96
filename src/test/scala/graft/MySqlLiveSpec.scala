package graft

import java.nio.file.Files

import graft.ingest.MySqlLive

/** Live-MySQL tool legs against STUB binaries (no mysqld in the
  * sandbox — same approach as the mongo legs' CliSpec coverage): the
  * stub mysqldump emits a REAL mysqldump-shaped dump (backticked
  * identifiers, conditional comments, LOCK TABLES, per-row complete
  * INSERTs) and records its argv; the stub mysql client spools the
  * restore stream. Proves the parser on the tool's actual output
  * shape, the reference argv (source/mysql.rs:110-144,
  * destination/mysql.rs:61-71), masking, skip_tables, and the
  * DROP/CREATE/INSERT restore synthesis.
  */
class MySqlLiveSpec extends SparkSpec {

  private val mysqldumpStyleDump =
    """-- MySQL dump 10.13  Distrib 8.0.32, for Linux (x86_64)
      |--
      |-- Host: localhost    Database: livedb
      |-- ------------------------------------------------------
      |/*!40101 SET @saved_cs_client     = @@character_set_client */;
      |/*!50503 SET NAMES utf8mb4 */;
      |DROP TABLE IF EXISTS `users`;
      |CREATE TABLE `users` (
      |  `id` int NOT NULL,
      |  `email` varchar(64) DEFAULT NULL,
      |  `bal` decimal(10,2) DEFAULT NULL,
      |  `note` text,
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
      |LOCK TABLES `users` WRITE;
      |/*!40000 ALTER TABLE `users` DISABLE KEYS */;
      |INSERT INTO `users` (`id`, `email`, `bal`, `note`) VALUES (1,'alice@real.test',12.50,'plain');
      |INSERT INTO `users` (`id`, `email`, `bal`, `note`) VALUES (2,'bob\'s@real.test',NULL,'it\'s escaped');
      |INSERT INTO `users` (`id`, `email`, `bal`, `note`) VALUES (3,'c@real.test',0.01,'trail\\');
      |INSERT INTO `users` (`id`, `email`, `bal`, `note`) VALUES (4,'d@real.test',NULL,'line\nbreak');
      |/*!40000 ALTER TABLE `users` ENABLE KEYS */;
      |UNLOCK TABLES;
      |DROP TABLE IF EXISTS `events`;
      |CREATE TABLE `events` (
      |  `id` int NOT NULL
      |) ENGINE=InnoDB;
      |INSERT INTO `events` (`id`) VALUES (7);
      |-- Dump completed on 2026-01-01  0:00:00
      |""".stripMargin

  test("mysql live: stubbed mysqldump source -> pipeline -> stubbed mysql restore") {
    val dir = tempDir("graft-mysqllive-")
    val dumpFile = dir.resolve("canned.sql")
    Files.writeString(dumpFile, mysqldumpStyleDump)
    val dumpArgsF = dir.resolve("dump.args"); val restArgsF = dir.resolve("rest.args")
    val restoredF = dir.resolve("restored.sql")
    val dumpStub = dir.resolve("mysqldump.sh")
    Files.writeString(dumpStub, s"#!/bin/sh\necho \"$$@\" > $dumpArgsF\ncat $dumpFile\n")
    val restStub = dir.resolve("mysql.sh")
    Files.writeString(restStub, s"#!/bin/sh\necho \"$$@\" > $restArgsF\ncat > $restoredF\n")
    Seq(dumpStub, restStub).foreach(_.toFile.setExecutable(true))

    val store = tempDir("graft-mysqllive-store-").toString
    val conf = tempFile("graft-mysqllive-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  connection_uri: mysql://graft:pw@localhost:3307/livedb
         |  skip_tables: [events]
         |  transformers:
         |    - table: users
         |      columns:
         |        - name: email
         |          transformer_name: email
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  connection_uri: mysql://graft:pw@otherhost:3307/livedb
         |""".stripMargin)

    spark.conf.set("spark.graft.mysqlMode", "tools")
    spark.conf.set("spark.graft.mysqldumpCmd", dumpStub.toString)
    spark.conf.set("spark.graft.mysqlCmd", restStub.toString)
    val printed = collection.mutable.Buffer[String]()
    // the spool holds UNMASKED source rows: every command must delete it
    val spoolsBefore = spools()
    try {
      // dump create: mysqldump spools, the distributed dump-file
      // pipeline parses/masks/filters/stores
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "mysql-live"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("dump created from file: mysql-live")))
      // reference argv, skip_tables pushed down as --ignore-table
      // (password via MYSQL_PWD env, NOT argv — deliberate divergence)
      assert(Files.readString(dumpArgsF).trim ==
        "-h localhost -P 3307 -u graft --add-drop-database --add-drop-table " +
          "--skip-extended-insert --complete-insert --single-transaction " +
          "--quick --hex-blob livedb --ignore-table=livedb.events")

      // source schema over the same stream: DDL-typed
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "source", "schema"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val schemaText = printed.mkString("\n")
      assert(schemaText.contains("table: public.users"))
      assert(schemaText.matches("(?s).*bal: decimal\\(10,2\\).*"), schemaText)

      // restore: frames -> DROP/CREATE/INSERT stream -> mysql stdin
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "mysql-live"),
        spark, printed += _) == 0, printed.mkString("\n"))
      assert(printed.exists(_.contains("restored: users")))
      assert(Files.readString(restArgsF).trim == "-h otherhost -P 3307 -u graft livedb")
      val restored = Files.readString(restoredF)
      // mysql-dialect string fidelity through the WHOLE pipe: \'
      // decodes to a logical quote (re-rendered as '' — valid in both
      // dialects), a string ENDING in an escaped backslash no longer
      // swallows its closing quote (the r17 parity fix), \n becomes a
      // real newline in the frame and re-escapes as \\-free raw LF in
      // the literal while the logical backslash re-encodes as \\
      assert(restored.contains("'it''s escaped'"), restored)
      assert(restored.contains("'trail\\\\'"), restored)
      assert(restored.contains("'line\nbreak'"), restored)
      assert(restored.contains("DROP TABLE IF EXISTS `livedb`.`users`;"))
      // the dump's ORIGINAL DDL is stored with the data and replayed on
      // wipe restore (r17 type-fidelity fix) — engine/charset clauses
      // and the declared decimal survive verbatim
      assert(restored.contains("CREATE TABLE `users` ("))
      assert(restored.contains("`bal` decimal(10,2) DEFAULT NULL"))
      assert(restored.contains("INSERT INTO `livedb`.`users` "))
      // masked, skip honored, quote-escape and NULL survive
      assert(!restored.contains("real.test"), restored.take(500))
      assert(!restored.contains("events"))
      assert(restored.contains("NULL"))
      assert(spools() == spoolsBefore, "a sqldump spool was left behind")
    } finally {
      spark.conf.unset("spark.graft.mysqlMode")
      spark.conf.unset("spark.graft.mysqldumpCmd")
      spark.conf.unset("spark.graft.mysqlCmd")
    }
  }

  test("mysql live: a failing tool surfaces its stderr loudly and leaves no partial spool") {
    val dir = tempDir("graft-mysqlfail-")
    val badStub = dir.resolve("mysqldump-bad.sh")
    Files.writeString(badStub,
      "#!/bin/sh\necho partial-unmasked-bytes\necho 'Access denied for user' >&2\nexit 1\n")
    badStub.toFile.setExecutable(true)
    val store = tempDir("graft-mysqlfail-store-").toString
    val conf = tempFile("graft-mysqlfail-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  connection_uri: mysql://graft@localhost/livedb
         |datastore:
         |  local_disk:
         |    dir: $store
         |""".stripMargin)
    spark.conf.set("spark.graft.mysqlMode", "tools")
    spark.conf.set("spark.graft.mysqldumpCmd", badStub.toString)
    try {
      val spoolsBefore = spools()
      val e = intercept[IllegalStateException] {
        Cli.run(Seq("-c", conf.toString, "dump", "create", "fail"), spark, _ => ())
      }
      assert(e.getMessage.contains("Access denied"), e.getMessage)
      assert(spools() == spoolsBefore, "partial spool left behind")
    } finally {
      spark.conf.unset("spark.graft.mysqlMode")
      spark.conf.unset("spark.graft.mysqldumpCmd")
    }
  }

  test("mysql conn: jdbc url parsing and reference argv vectors") {
    val m = MySqlLive.Conn.fromJdbcUrl("jdbc:mysql://h:3307/prod", Some("u"), Some("pw"))
    assert(m.host == "h" && m.port == 3307 && m.db == "prod")
    assert(MySqlLive.dumpArgs(m, skipTables = Seq("s"), onlyTables = Seq("a", "b")) ==
      Seq("-h", "h", "-P", "3307", "-u", "u",
        "--add-drop-database", "--add-drop-table", "--skip-extended-insert",
        "--complete-insert", "--single-transaction", "--quick", "--hex-blob",
        "prod", "--ignore-table=prod.s", "a", "b"))
    assert(MySqlLive.restoreArgs(m) == Seq("-h", "h", "-P", "3307", "-u", "u", "prod"))
    // default port; password only in env
    assert(MySqlLive.Conn.fromJdbcUrl("jdbc:mysql://h/d", None, None).port == 3306)
  }
}
