package graft

import java.nio.file.Files

import graft.config.GraftConfig

/** End-to-end CLI coverage: YAML config → dump create → list →
  * restore → retention, mirroring the reference's command surface
  * (`replibyte/src/cli.rs:20-134`).
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private def writeConf(storeDir: String, restoreDir: String): String = {
    val yaml =
      s"""source:
         |  tables_dir: $sfDir
         |  tables: [customer, nation]
         |  skip_tables: [public.nation]
         |  transformers:
         |    - database: public
         |      table: customer
         |      columns:
         |        - name: c_name
         |          transformer_name: email
         |datastore:
         |  local_disk:
         |    dir: $storeDir
         |  compression: true
         |destination:
         |  output_dir: $restoreDir
         |""".stripMargin
    val conf = tempFile("graft-conf-", ".yaml")
    Files.writeString(conf, yaml)
    conf.toString
  }

  /** `Cli.run`, asserting the command released every pin it made:
    * the session's persistent RDDs are back to the set it started with,
    * right when it returns (no GC is asked to reclaim anything).
    */
  private def runReleasing(args: Seq[String], printed: String => Unit): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val rc = Cli.run(args, spark, printed)
    val left = spark.sparkContext.getPersistentRDDs.toSeq
      .filter { case (id, _) => !before(id) }.sortBy(_._1)
    assert(left.isEmpty, s"${args.mkString(" ")} left pins behind: " +
      left.map { case (id, rdd) => s"$id ${rdd.name}" }.mkString("; "))
    rc
  }

  test("config: env substitution errors on missing var, passes values through") {
    assert(GraftConfig.substituteEnvVar("plain") == "plain")
    assert(GraftConfig.substituteEnvVar("$PATH") == sys.env("PATH"))
    intercept[IllegalArgumentException] {
      GraftConfig.substituteEnvVar("$GRAFT_SURELY_NOT_SET_12345")
    }
    // and through config loading: a missing env var in encryption_key
    // must fail when the key is used
    val c = GraftConfig.fromYaml(
      "source:\n  tables_dir: /tmp\nencryption_key: $GRAFT_SURELY_NOT_SET_12345\n")
    intercept[IllegalArgumentException] { c.encryptionKey }
  }

  test("config: subset.percent accepts integer AND float YAML spellings") {
    // Jackson hands the type-erased Option whatever number shape the
    // YAML carried — `percent: 50` (the natural spelling) arrived as
    // Integer and the bare Double unboxing threw ClassCastException
    // (caught by the r17 live-postgres subset e2e)
    def conf(p: String) = GraftConfig.fromYaml(
      s"source:\n  tables_dir: /tmp\nsubset:\n  table: t\n  seed_key: k\n  percent: $p\n")
    assert(conf("50").subsetConfig.get.percent == 50.0)
    assert(conf("33.3").subsetConfig.get.percent == 33.3)
    assert(conf("50.0").subsetConfig.get.percent == 50.0)
  }

  test("cli: dump create -> list -> restore roundtrip with skip + transformer") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = writeConf(store, restore)
    val printed = collection.mutable.Buffer[String]()

    assert(runReleasing(Seq("-c", conf, "dump", "create", "cli-test"), printed += _) == 0)
    assert(printed.exists(_.contains("dump created: cli-test")))

    printed.clear()
    assert(Cli.run(Seq("-c", conf, "dump", "list"), spark, printed += _) == 0)
    assert(printed.exists(_.startsWith("cli-test")))

    printed.clear()
    assert(runReleasing(Seq("-c", conf, "dump", "restore", "latest"), printed += _) == 0)
    // nation was skipped: only customer restored
    assert(printed.count(_.startsWith("restored:")) == 1)

    val restored = spark.read.parquet(s"$restore/customer")
    val orig = Tables.customer(spark, sfDir)
    assert(restored.count() == orig.count())
    // transformer applied: every c_name anonymized
    assert(restored.filter($"c_name".endsWith("@example.com")).count() == orig.count())

    // retention: keep-last 0 deletes everything
    printed.clear()
    assert(Cli.run(Seq("-c", conf, "dump", "delete", "--keep-last", "0"), spark, printed += _) == 0)
    assert(Cli.run(Seq("-c", conf, "dump", "list"), spark, printed += _) == 0)
    assert(!printed.exists(_.startsWith("cli-test")))
  }

  test("cli: transformer list and unknown command exit codes") {
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("transformer", "list"), spark, printed += _) == 0)
    assert(printed.contains("email") && printed.contains("redacted"))
    assert(Cli.run(Seq("bogus"), spark, printed += _) == 1)
  }

  test("cli: ephemeral restore loads the dump into a scratch Derby database (D4 analog)") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = writeConf(store, restore)
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("-c", conf, "dump", "create", "eph-test"), spark, printed += _) == 0)

    printed.clear()
    assert(runReleasing(Seq("-c", conf, "dump", "restore", "ephemeral", "latest"),
      printed += _) == 0)
    val url = printed.find(_.startsWith("ephemeral database ready: "))
      .map(_.stripPrefix("ephemeral database ready: "))
      .getOrElse(fail("no ephemeral database URL printed"))
    val back = graft.ingest.Jdbc.readTable(spark, url, "customer")
    assert(back.count() == Tables.customer(spark, sfDir).count())
    assert(back.filter($"c_name".endsWith("@example.com")).count() == back.count())
    // the teardown the command prints: delete the (shut down) database
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";shutdown=true"))
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown so
    val dbDir = printed.find(_.startsWith("teardown: delete "))
      .map(l => java.nio.file.Paths.get(l.stripPrefix("teardown: delete ")))
      .getOrElse(fail("no teardown line printed"))
    SparkSpec.deleteTree(dbDir.getParent)
  }

  test("cli: dump create --file ingests a SQL dump through transform into the store") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = writeConf(store, restore)
    val dumpFile = tempFile("graft-dump-", ".sql")
    Files.writeString(dumpFile,
      """CREATE TABLE public.customer (c_custkey bigint, c_name text);
        |CREATE TABLE public.nation (n_nationkey bigint, n_name text);
        |INSERT INTO public.customer (c_custkey, c_name) VALUES (1, 'Alice');
        |INSERT INTO public.customer (c_custkey, c_name) VALUES (2, 'Bob');
        |INSERT INTO public.nation (n_nationkey, n_name) VALUES (1, 'FRANCE');
        |""".stripMargin)
    val printed = collection.mutable.Buffer[String]()
    assert(runReleasing(Seq("-c", conf, "dump", "create", "from-file", "--file", dumpFile.toString),
      printed += _) == 0)
    assert(printed.exists(_.contains("dump created from file: from-file")))

    printed.clear()
    assert(runReleasing(Seq("-c", conf, "dump", "restore", "latest"), printed += _) == 0)
    // nation skipped by the config, customer transformed
    assert(printed.count(_.startsWith("restored:")) == 1)
    val back = spark.read.parquet(s"$restore/customer")
    assert(back.count() == 2)
    assert(back.filter($"c_name".endsWith("@example.com")).count() == 2)
    assert(back.filter($"c_custkey".isin(1L, 2L)).count() == 2)
  }

  test("cli: dump create --file with a subset releases the closure's pins") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = tempFile("graft-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  tables_dir: $sfDir
         |subset:
         |  table: orders
         |  seed_key: o_orderkey
         |  percent: 50
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  output_dir: $restore
         |""".stripMargin)
    val dumpFile = tempFile("graft-dump-", ".sql")
    Files.writeString(dumpFile,
      """CREATE TABLE public.customer (c_custkey bigint, c_name text);
        |CREATE TABLE public.orders (o_orderkey bigint, o_custkey bigint);
        |INSERT INTO public.customer (c_custkey, c_name) VALUES (1, 'Alice');
        |INSERT INTO public.customer (c_custkey, c_name) VALUES (2, 'Bob');
        |INSERT INTO public.orders (o_orderkey, o_custkey) VALUES (10, 1);
        |INSERT INTO public.orders (o_orderkey, o_custkey) VALUES (11, 2);
        |ALTER TABLE ONLY public.orders
        |    ADD CONSTRAINT orders_cust_fk FOREIGN KEY (o_custkey) REFERENCES public.customer(c_custkey);
        |""".stripMargin)
    val printed = collection.mutable.Buffer[String]()
    assert(runReleasing(Seq("-c", conf.toString, "dump", "create", "sub", "--file",
      dumpFile.toString), printed += _) == 0, printed.mkString("\n"))
    assert(printed.exists(_.contains("dump created from file: sub")))
    printed.clear()
    assert(runReleasing(Seq("-c", conf.toString, "dump", "restore", "latest"),
      printed += _) == 0, printed.mkString("\n"))
    // the closure keeps exactly the customers the sampled orders reference
    val orders = spark.read.parquet(s"$restore/orders")
    val customers = spark.read.parquet(s"$restore/customer")
    assert(orders.count() >= 1)
    assert(customers.select("c_custkey").as[Long].collect().toSet ==
      orders.select("o_custkey").as[Long].collect().toSet)
  }

  test("cli: dump create --file handles COPY-format dumps and auto-names without a name") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = writeConf(store, restore)
    val dumpFile = tempFile("graft-copydump-", ".sql")
    Files.writeString(dumpFile,
      """CREATE TABLE public.customer (c_custkey bigint, c_name text);
        |COPY public.customer (c_custkey, c_name) FROM stdin;
        |1	Alice
        |2	Bob
        |\.
        |""".stripMargin)
    val printed = collection.mutable.Buffer[String]()
    // no name given: auto-named, file still consumed
    assert(Cli.run(Seq("-c", conf, "dump", "create", "--file", dumpFile.toString),
      spark, printed += _) == 0)
    assert(printed.exists(_.matches("dump created from file: dump-\\d+ \\(1 tables\\)")),
      s"got: $printed")
    printed.clear()
    assert(Cli.run(Seq("-c", conf, "dump", "restore", "latest"), spark, printed += _) == 0)
    val back = spark.read.parquet(s"$restore/customer")
    assert(back.count() == 2)
    assert(back.filter($"c_name".endsWith("@example.com")).count() == 2)
  }

  test("cli: dump create --file refuses a dump in another schema and a dump with no data") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = writeConf(store, restore)
    def create(sql: String): (Int, Seq[String]) = {
      val dumpFile = tempFile("graft-refuse-", ".sql")
      Files.writeString(dumpFile, sql)
      val printed = collection.mutable.Buffer[String]()
      val rc = Cli.run(Seq("-c", conf, "dump", "create", "refused", "--file", dumpFile.toString),
        spark, printed += _)
      (rc, printed.toSeq)
    }
    // the config leaves source.database at its default, `public`
    val (rcForeign, foreign) = create(
      """CREATE TABLE sales.customer (c_custkey bigint, c_name text);
        |INSERT INTO sales.customer (c_custkey, c_name) VALUES (1, 'Alice');
        |""".stripMargin)
    assert(rcForeign == 1)
    assert(foreign.exists(_.contains("set source.database to match")), s"got: $foreign")
    val (rcEmpty, empty) = create(
      "CREATE TABLE public.customer (c_custkey bigint, c_name text);\n")
    assert(rcEmpty == 1)
    assert(empty.exists(_.contains("nothing to dump")), s"got: $empty")
    // neither refusal stored a dump
    val listed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("-c", conf, "dump", "list"), spark, listed += _) == 0)
    assert(!listed.exists(_.contains("refused")), s"got: $listed")
  }

  test("cli: dump create -i ingests a dump piped on stdin (pg_dump | graft)") {
    val store = tempDir("graft-cli-store-").toString
    val restore = tempDir("graft-cli-restore-").toString
    val conf = writeConf(store, restore)
    val dumpText =
      """CREATE TABLE public.customer (c_custkey bigint, c_name text);
        |INSERT INTO public.customer (c_custkey, c_name) VALUES (1, 'Alice');
        |INSERT INTO public.customer (c_custkey, c_name) VALUES (2, 'Bob');
        |COPY public.customer (c_custkey, c_name) FROM stdin;
        |3	Carol
        |\.
        |""".stripMargin
    val in = new java.io.ByteArrayInputStream(dumpText.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("-c", conf, "dump", "create", "stdin-test", "-i"),
      spark, printed += _, stdin = in) == 0)
    assert(printed.exists(_.contains("dump created from file: stdin-test")))

    printed.clear()
    assert(Cli.run(Seq("-c", conf, "dump", "restore", "latest"), spark, printed += _) == 0)
    val back = spark.read.parquet(s"$restore/customer")
    // INSERT rows + COPY row, all through the transformer
    assert(back.count() == 3)
    assert(back.filter($"c_name".endsWith("@example.com")).count() == 3)

    // malformed: extra positional args must fail loudly, not fall through
    printed.clear()
    assert(Cli.run(Seq("-c", conf, "dump", "create", "a", "b", "-i"),
      spark, printed += _, stdin = new java.io.ByteArrayInputStream(Array[Byte]())) == 1)
    assert(printed.exists(_.contains("malformed")))

    // spool cleanup: the datastore's .spool dir holds no leftovers after
    // successful ingests, and a stream that fails mid-copy deletes its
    // partial file instead of orphaning it
    val spoolDir = new java.io.File(store, ".spool")
    assert(!spoolDir.exists() || spoolDir.listFiles().isEmpty,
      s"spool files leaked: ${Option(spoolDir.listFiles()).map(_.toSeq).getOrElse(Nil)}")
    val failing = new java.io.InputStream {
      private var n = 0
      override def read(): Int = {
        n += 1
        if (n > 100) throw new java.io.IOException("pipe broke") else 'x'
      }
    }
    intercept[java.io.IOException](Cli.spoolStdin(failing, spark, store))
    assert(!spoolDir.exists() || spoolDir.listFiles().isEmpty,
      "failed copy orphaned its partial spool file")
  }

  test("cli: corpus run executes the YAML stage chain end to end") {
    val outDir = tempDir("graft-corpus-").toString + "/out"
    val conf = tempDir("graft-corpus-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: pii_scrub
         |  - kind: gopher_filter
         |  - kind: line_dedup_within
         |  - kind: decontaminate_spans
         |    benchmark_source: src0
         |  - kind: quality_rep_dedup
         |  - kind: curriculum_rank
         |    keep: 20
         |  - kind: chunk
         |    window: 64
         |    stride: 48
         |""".stripMargin.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf), spark, printed += _) == 0)
    assert(printed.exists(_.startsWith("stage quality_rep_dedup")))
    val result = spark.read.parquet(outDir)
    assert(result.count() > 0, "corpus pipeline produced no chunks")
    assert(result.columns.contains("chunk_idx"))
    assert(result.columns.contains("rank"),
      "curriculum rank must be carried through the chunk terminal")
    assert(result.select("doc_id").distinct().count() <= 20,
      "curriculum keep=20 not honored")
    // misconfigurations fail loudly: unknown kind, terminal not last
    val bad = conf + ".bad"
    Files.write(java.nio.file.Paths.get(bad),
      (s"input_dir: /root/testdata/sf0.001/documents.parquet\noutput_dir: $outDir\n" +
        "stages:\n  - kind: frobnicate\n").getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusPipeline.run(spark,
        graft.pipeline.CorpusPipeline.load(bad), _ => ())
    }
    val bad2 = conf + ".bad2"
    Files.write(java.nio.file.Paths.get(bad2),
      (s"input_dir: /root/testdata/sf0.001/documents.parquet\noutput_dir: $outDir\n" +
        "stages:\n  - kind: chunk\n  - kind: gopher_filter\n").getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusPipeline.run(spark,
        graft.pipeline.CorpusPipeline.load(bad2), _ => ())
    }
  }

  test("cli: corpus stream scrubs, admits against the corpus, appends exactly-once") {
    val inDir = tempDir("graft-cs-in").toString
    val outDir = tempDir("graft-cs-out").toString + "/out"
    val ckpt = tempDir("graft-cs-ck").toString + "/ck"
    val corpusDir = tempDir("graft-cs-corpus").toString + "/corpus"
    Seq((1L, "already ingested text")).toDF("doc_id", "text")
      .write.parquet(corpusDir)
    val conf = tempDir("graft-cs-conf").toString + "/s.yaml"
    Files.writeString(java.nio.file.Paths.get(conf),
      s"""input_dir: $inDir
         |output_dir: $outDir
         |checkpoint_dir: $ckpt
         |corpus_dir: $corpusDir
         |watermark: 6 hours
         |stages:
         |  - kind: pii_scrub
         |  - kind: keyword_filter
         |    block_tokens: [casino]
         |  - kind: compression_filter
         |    threshold: 0.0
         |""".stripMargin)
    def jline(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "ts": "2026-01-01T00:00:00.000Z"}"""
    Files.writeString(java.nio.file.Paths.get(inDir, "b1.json"),
      Seq(jline(10L, "already ingested text"),
        jline(11L, "mail bob@example.com about it"),
        jline(15L, "win big at the casino tonight")).mkString("", "\n", "\n"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "stream", conf), spark, printed += _) == 0)
    val got = spark.read.parquet(outDir)
    assert(got.select($"doc_id").as[Long].collect().toSet == Set(11L),
      "corpus dup and blocklisted doc should be dropped, fresh doc admitted")
    assert(got.filter($"text".contains("<EMAIL>")).count() == 1,
      "pii_scrub stage did not run on the stream")
    assert(got.filter($"text".contains("casino")).count() == 0,
      "keyword_filter stage did not run on the stream")
    // second invocation, same checkpoint: b1.json is NOT reprocessed
    assert(Cli.run(Seq("corpus", "stream", conf), spark, printed += _) == 0)
    assert(spark.read.parquet(outDir).count() == 1, "replay duplicated rows")
    // a SECOND batch lands after the first commit — the watcher
    // restarts on the same checkpoint and must process exactly the new
    // file: 12 is fresh (admitted), 13 repeats doc 11's text (the
    // in-stream fingerprint state survived the restart), 14 is a
    // corpus dup
    Files.writeString(java.nio.file.Paths.get(inDir, "b2.json"),
      Seq(jline(12L, "a genuinely new document"),
        jline(13L, "mail bob@example.com about it"),
        jline(14L, "already ingested text")).mkString("", "\n", "\n"))
    assert(Cli.run(Seq("corpus", "stream", conf), spark, printed += _) == 0)
    assert(spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      == Set(11L, 12L),
      "second backlog batch must admit only the fresh doc, exactly once")
    // stateful stages are refused on the streaming path
    val bad = conf + ".bad"
    Files.writeString(java.nio.file.Paths.get(bad),
      s"input_dir: $inDir\noutput_dir: $outDir\ncheckpoint_dir: $ckpt\n" +
        "stages:\n  - kind: dedup_near\n")
    intercept[IllegalArgumentException] {
      Cli.run(Seq("corpus", "stream", bad), spark, _ => ())
    }
  }

  test("examples/graft.yaml stays loadable and complete") {
    val c = GraftConfig.load("examples/graft.yaml")
    assert(c.sourceConf.db == "public")
    assert(c.sourceConf.skip_tables.get == Seq("nation"))
    // filters must construct (skip/only are mutually exclusive — an
    // example that sets both would crash every documented command)
    assert(c.filters.skipTables.map(_.table) == Seq("nation"))
    assert(c.bindings.exists(b => b.table == "customer" && b.column == "c_name" && b.transformerId == "email"))
    assert(c.datastore.get.rootUri == "/tmp/graft-store")
    assert(c.destination.get.format.contains("parquet"))
    // and the corpus-pipeline example: loadable, valid kinds, terminal last
    val cp = graft.pipeline.CorpusPipeline.load("examples/corpus.yaml")
    assert(cp.stages.nonEmpty)
    assert(cp.stages.map(_.kind).forall(k =>
      graft.pipeline.CorpusPipeline.ShapingKinds.contains(k) ||
        graft.pipeline.CorpusPipeline.TerminalKinds.contains(k)))
    assert(graft.pipeline.CorpusPipeline.TerminalKinds.contains(cp.stages.last.kind))
    // the incremental example: loadable, every kind admitted by the
    // incremental path, dedup_exact present (the streaming-idempotence
    // requirement), checkpoint_dir set for the stream form
    val ci = graft.pipeline.CorpusPipeline.load("examples/corpus-incremental.yaml")
    assert(ci.stages.map(_.kind).forall(
      graft.pipeline.CorpusPipeline.IncrementalKinds.contains))
    assert(ci.stages.exists(_.kind == "dedup_exact"))
    assert(ci.checkpoint_dir.nonEmpty)
  }

  test("cli: corpus run chains holdout_split, leakage_quarantine and source_cap from config") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, Sampling, Splits}
    val outDir = tempDir("graft-corpus-split-").toString + "/out"
    val conf = tempDir("graft-corpus-split-conf-").toString + "/c.yaml"
    Files.writeString(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: holdout_split
         |  - kind: leakage_quarantine
         |    threshold: 0.8
         |  - kind: source_cap
         |    max_share: 0.08
         |""".stripMargin)
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf), spark, printed += _) == 0)
    val result = spark.read.parquet(outDir)
    assert(result.columns.contains("split"))
    // the config path is the ops API, stage for stage
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val assigned = Splits.splitAssign(docs, col("doc_id"))
    val evict = Splits.quarantine(
        Dedup.ngramJaccardPairs(assigned, "doc_id", col("text"), 3, 0.8),
        assigned.select(col("doc_id"), col("split")), "doc_id")
      .select(col("doc_id"))
    val afterQ = assigned.join(evict, Seq("doc_id"), "left_anti")
    val expected = Sampling.capPerGroup(afterQ, col("source"), col("doc_id"), 0.08)
    assert(result.select("doc_id").as[Long].collect().toSet ==
      expected.select("doc_id").as[Long].collect().toSet)
    // the cap is honored in the output
    val total = result.count()
    val cap = math.max(1L, math.ceil(0.08 * afterQ.count()).toLong)
    val maxPerSource = result.groupBy(col("source")).count()
      .agg(org.apache.spark.sql.functions.max(col("count"))).as[Long].head()
    assert(maxPerSource <= cap, s"source over cap: $maxPerSource > $cap (total $total)")
    // leakage_quarantine without a prior split fails loudly
    val bad = conf + ".bad"
    Files.writeString(java.nio.file.Paths.get(bad),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: leakage_quarantine
         |""".stripMargin)
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusPipeline.run(spark,
        graft.pipeline.CorpusPipeline.load(bad), _ => ())
    }
  }

  test("cli: corpus run chains semantic dedup and exact-substr scrub from config") {
    val outDir = tempDir("graft-corpus-sem-").toString + "/out"
    val conf = tempDir("graft-corpus-sem-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: dedup_semantic
         |    embeddings_dir: /root/testdata/sf0.001/embeddings.parquet
         |    threshold: 0.4
         |  - kind: scrub_exact_substr
         |    n: 8
         |    min_count: 2
         |  - kind: pack
         |    window: 2048
         |""".stripMargin.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf), spark, printed += _) == 0)
    def stageRows(kind: String): Long = printed
      .find(_.startsWith(s"stage $kind")).map(_.split("rows=")(1).trim.toLong)
      .getOrElse(fail(s"no progress line for stage $kind"))
    // the config path must drop exactly what the ops API drops
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").as("doc_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .join(docs.select("doc_id"), Seq("doc_id"))
    val expectedDrops = graft.ops.Dedup.clusterDropList(graft.ops.Dedup.nearDupClusters(
      graft.ops.Similarity.semanticDedupPairs(
        vecs, "doc_id", "embedding", 0.4, sampleMod = 1))).count()
    val nDocs = docs.count()
    assert(expectedDrops > 0, "sf0.001 must contain semantic near-dups for this test to bite")
    assert(stageRows("dedup_semantic") == nDocs - expectedDrops,
      "config-driven semantic dedup dropped a different set than the ops API")
    // the scrub rewrites text but never drops documents
    assert(stageRows("scrub_exact_substr") == stageRows("dedup_semantic"))
    assert(spark.read.parquet(outDir).count() > 0, "pack terminal produced no sequences")
  }

  test("cli: html_strip stage extracts markup to prose from config") {
    val root = tempDir("graft-html-").toString
    Seq((1L, "<p>alpha &amp; beta</p>"), (2L, "<b>gamma</b>\ndelta<!-- x -->"))
      .toDF("doc_id", "text").write.parquet(s"$root/in")
    val conf = s"$root/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $root/in
         |output_dir: $root/out
         |stages:
         |  - kind: html_strip
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val texts = spark.read.parquet(s"$root/out")
      .select("text").as[String].collect().toSet
    assert(texts == Set("alpha & beta", "gamma delta"), s"$texts")
  }

  test("cli: diversify stage prunes cluster prototypes from config, equal to the ops API") {
    import org.apache.spark.sql.functions.col
    val outDir = tempDir("graft-corpus-div-").toString + "/out"
    val conf = tempDir("graft-corpus-div-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: diversify
         |    embeddings_dir: /root/testdata/sf0.001/embeddings.parquet
         |    drop_frac: 0.2
         |    n: 8
         |""".stripMargin.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf), spark, printed += _) == 0)
    // the config path must drop exactly what the ops API drops
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding").as("__graft_vec"))
      .join(docs.select("doc_id"), Seq("doc_id"))
    val expectedDrops = graft.ops.Similarity.diversify(
        vecs, "doc_id", "__graft_vec", 0.2, nCentroids = 8, sampleMod = 1)
      .filter(col("action") === "dropped").count()
    assert(expectedDrops > 0, "drop_frac 0.2 must prune something")
    assert(spark.read.parquet(outDir).count() == docs.count() - expectedDrops,
      "config-driven diversify dropped a different set than the ops API")
  }

  test("cli: cluster_balance stage downsamples topic cells from config, equal to the ops API") {
    import org.apache.spark.sql.functions.col
    val outDir = tempDir("graft-corpus-bal-").toString + "/out"
    val conf = tempDir("graft-corpus-bal-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: cluster_balance
         |    embeddings_dir: /root/testdata/sf0.001/embeddings.parquet
         |    n: 8
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding").as("__graft_vec"))
      .join(docs.select("doc_id"), Seq("doc_id"))
    val keptEmbedded = graft.ops.Similarity.clusterBalancedSample(
      vecs, "doc_id", "__graft_vec", nCentroids = 8, sampleMod = 1).count()
    val nEmbedded = vecs.count()
    assert(keptEmbedded < nEmbedded, "balancing must bite on the test corpus")
    // docs without an embedding pass through untouched
    assert(spark.read.parquet(outDir).count() ==
      docs.count() - (nEmbedded - keptEmbedded),
      "config-driven cluster_balance dropped a different set than the ops API")
  }

  test("cli: dedup_phash stage drops image near-dups from config, equal to the ops API") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("graft-corpus-ph-").toString
    val outDir = base + "/out"
    val mediaDir = base + "/media"
    val conf = base + "/c.yaml"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.ops.Multimodal.packPnm(docs, col("doc_id"), col("text"))
      .write.parquet(mediaDir)
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: dedup_phash
         |    media_dir: $mediaDir
         |    max_distance: 3
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val hashes = graft.ops.Multimodal.perceptualHash(
      spark.read.parquet(mediaDir), codec = () => new graft.ops.NetpbmWavCodec())
    val expectedDrops = graft.ops.Dedup.clusterDropList(
      graft.ops.Dedup.nearDupClusters(
        graft.ops.Multimodal.phashPairs(hashes, maxDistance = 3))).count()
    assert(expectedDrops > 0, "the corpus should contain image near-dups")
    assert(spark.read.parquet(outDir).count() == docs.count() - expectedDrops,
      "config-driven dedup_phash dropped a different set than the ops API")
  }

  test("cli: url_filter + url_dedup stages gate and dedupe a WARC crawl by URL") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val base = tempDir("graft-corpus-url-").toString
    val crawlDir = base + "/crawl"
    val outDir = base + "/out"
    val conf = base + "/c.yaml"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // odd ids land on a blocked host; even ids share URLs mod 50 (dups)
    val host = when(col("doc_id") % 2 === 1, lit("ads.blocked.example"))
      .otherwise(lit("crawl.example"))
    // raw URLs are unique (tracking param carries the doc id) but
    // normalize together per /p/<id%50> path — the canonicalizer, not
    // byte equality, must drive the dedup
    graft.ingest.Warc.writeResponses(
      docs.select(
        concat(lit("http://"), host, lit("/p/"), (col("doc_id") % 50).cast("string"),
          lit("?utm_source="), col("doc_id").cast("string")).as("url"),
        lit("2026-01-01T00:00:00Z").as("date"),
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")).as("html")),
      crawlDir)
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $crawlDir
         |input_format: warc
         |output_dir: $outDir
         |stages:
         |  - kind: url_filter
         |    block_domains:
         |      - blocked.example
         |  - kind: url_dedup
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val out = spark.read.parquet(outDir)
    // survivors: even ids only (host gate), one per distinct /p/<id%50>
    // path — 25 distinct even residues mod 50
    assert(out.count() == 25, s"expected 25 survivors, got ${out.count()}")
    val urls = out.select(col("url")).as[String].collect()
    assert(urls.forall(_.contains("crawl.example")), "a blocked host survived")
    assert(urls.map(u => u.split("/p/")(1)).distinct.length == 25)
  }

  test("cli: keyword_filter stage drops blocklist-hit docs from config") {
    import org.apache.spark.sql.functions.col
    val outDir = tempDir("graft-kw-").toString + "/out"
    val conf = tempDir("graft-kw-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: keyword_filter
         |    block_tokens:
         |      - window
         |      - batch
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expect = docs.filter(!graft.ops.TextAnalysis.keywordHit(
        col("text"), Seq("window", "batch")))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(expect.nonEmpty && expect.size < docs.count(),
      "the blocklist should split the corpus")
    val got = spark.read.parquet(outDir).select(col("doc_id")).as[Long].collect().toSet
    assert(got == expect, "config-driven keyword_filter kept a different set")
  }

  test("cli: keyword_filter passes null-text docs (only positive evidence blocks)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val inDir = tempDir("graft-kwnull-in-").toString + "/docs"
    val outDir = tempDir("graft-kwnull-").toString + "/out"
    Seq((1L, "a clean page"), (2L, "a spamword page"), (3L, null))
      .toDF("doc_id", "text").write.parquet(inDir)
    val conf = tempDir("graft-kwnull-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $inDir
         |output_dir: $outDir
         |stages:
         |  - kind: keyword_filter
         |    block_tokens:
         |      - spamword
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val got = spark.read.parquet(outDir).select(col("doc_id")).as[Long].collect().toSet
    // doc 3 has NULL text: the gate's verdict is unknowable, so it must
    // pass (filter(!NULL) would silently drop it) — url_filter convention
    assert(got == Set(1L, 3L), s"expected Set(1, 3), got $got")
  }

  test("cli: corpus stats prints the language/token/dup profile") {
    val conf = tempDir("graft-stats-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: /tmp/unused-stats-out
         |stages:
         |  - kind: gopher_filter
         |""".stripMargin.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "stats", conf), spark, printed += _) == 0)
    val head = printed.find(_.startsWith("docs=")).getOrElse(fail("no summary line"))
    assert(head.contains("docs=500"), s"unexpected summary: $head")
    assert(head.contains("exact_dup_rate="), head)
    assert(printed.exists(_.startsWith("lang=")), "no per-language lines")
    // token mass must equal the ops-API count
    import org.apache.spark.sql.functions.{col, sum}
    val tokens = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(head.contains(s"tokens=$tokens"), s"token mass mismatch: $head vs $tokens")
  }

  test("cli: tokenize_unigram terminal emits trained-tokenizer counts from config") {
    import org.apache.spark.sql.functions.col
    val outDir = tempDir("graft-tok-").toString + "/out"
    val conf = tempDir("graft-tok-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: tokenize_unigram
         |    n: 8
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expect = graft.ops.UnigramLm.encodeTokenCounts(docs, "doc_id", col("text"),
        graft.ops.UnigramLm.Config(maxWordLen = 8))
      .as[(Long, Long)].collect().toMap
    val got = spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_unigram_tokens")).as[(Long, Long)].collect().toMap
    assert(got == expect, "config-driven tokenize_unigram diverged from the ops API")
    assert(got.values.sum > 0)
  }

  test("cli: dedup_audio_fp stage drops planted audio copies from config") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val base = tempDir("graft-corpus-afp-").toString
    val outDir = base + "/out"
    val mediaDir = base + "/media"
    val conf = base + "/c.yaml"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // plant audio copies INSIDE the doc-id domain: docs 0 mod 10 get
    // the text of doc_id+1 — identical payload pairs the fingerprint
    // must collapse (keep min id)
    val clonedText = docs.withColumnRenamed("doc_id", "o").withColumnRenamed("text", "t")
    val withCopies = docs.join(clonedText, docs("doc_id") === clonedText("o") + 1, "left")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.when(
          pmod(col("doc_id"), lit(10)) === 0 && col("t").isNotNull, col("t"))
          .otherwise(col("text")).as("text"))
    graft.ops.Multimodal.packWav(withCopies, col("doc_id"), col("text"))
      .write.parquet(mediaDir)
    withCopies.write.parquet(base + "/docs")
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $base/docs
         |output_dir: $outDir
         |stages:
         |  - kind: dedup_audio_fp
         |    media_dir: $mediaDir
         |    max_distance: 3
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val expectedDrops = graft.ops.Dedup.clusterDropList(
      graft.ops.Dedup.nearDupClusters(
        graft.ops.Multimodal.phashPairs(
          graft.ops.Multimodal.audioFingerprint(
            spark.read.parquet(mediaDir), codec = () => new graft.ops.NetpbmWavCodec()),
          maxDistance = 3))).count()
    assert(expectedDrops > 0, "the planted audio copies should form drop clusters")
    assert(spark.read.parquet(outDir).count() == withCopies.count() - expectedDrops,
      "config-driven dedup_audio_fp dropped a different set than the ops API")
  }

  test("cli: doremi_mix stage resamples domains from config, equal to the ops API") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("graft-corpus-dm-").toString
    val outDir = base + "/out"
    val conf = base + "/c.yaml"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: doremi_mix
         |    n: 4
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val expect = graft.ops.DomainReweight.doremiMix(
        docs, col("doc_id"), col("source"), col("text"), rounds = 4)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(expect.size < docs.count(), "the resample should drop some rows")
    val got = spark.read.parquet(outDir).select(col("doc_id")).as[Long].collect().toSet
    assert(got == expect, "config-driven doremi_mix kept a different set than the ops API")
  }

  test("cli: pagerank_select stage keeps the top-ranked half by the link sidecar") {
    import org.apache.spark.sql.functions.{col, explode, array, lit}
    val base = tempDir("graft-corpus-pr-").toString
    val outDir = base + "/out"
    val edgesDir = base + "/edges"
    val conf = base + "/c.yaml"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    // deterministic 3-out-regular graph on the doc ids (the x_pagerank shape)
    docs.select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
      .select(col("src"), ((col("src") * 31 + col("k")) % lit(n)).as("dst"))
      .write.parquet(edgesDir)
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: pagerank_select
         |    edges_dir: $edgesDir
         |    n: 5
         |    budget_frac: 0.5
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val kept = spark.read.parquet(outDir).select(col("doc_id")).as[Long].collect().toSet
    assert(kept.size == n / 2, s"expected ${n / 2} kept, got ${kept.size}")
    // the kept set must be exactly the top half by (pagerank desc, id)
    val ranks = graft.ops.LinkGraph.pageRank(
        docs.select(col("doc_id").as("id")),
        spark.read.parquet(edgesDir), iters = 5)
      .as[(Long, Long)].collect()
    val expect = ranks.sortBy { case (id, r) => (-r, id) }.take((n / 2).toInt).map(_._1).toSet
    assert(kept == expect, "config-driven pagerank_select kept a different set than the ops API")
  }

  test("cli: epoch_mix terminal emits the repeat manifest from config") {
    val outDir = tempDir("graft-epoch-").toString + "/out"
    val conf = tempDir("graft-epoch-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: epoch_mix
         |    rates:
         |      en: 0.5
         |      und: 0.5
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val got = spark.read.parquet(outDir)
    assert(got.columns.toSet == Set("doc_id", "stratum", "copy_idx"))
    assert(got.count() > 0)
    assert(got.agg(org.apache.spark.sql.functions.max($"copy_idx")).head.getLong(0) >= 1L,
      "the minority stratum should run more than one epoch at a 50/50 target")
  }

  test("cli: dsir_select runs from config (both target forms), equal to the ops API") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Selection, TextAnalysis => TA}
    val root = tempDir("graft-dsirconf-").toString
    val rows = ((0 until 6).map(k => (k.toLong, s"the cat and the dog number $k sit in the house")) ++
      (6 until 12).map(k => (k.toLong, s"zqx wvu ponm lkj number $k hgf dsa qqq www"))).toSeq
    rows.toDF("doc_id", "text").write.parquet(s"$root/in")
    // external curated target: more of the english-ish sublanguage
    Seq((100L, "the cat sat with the dog in the house"),
        (101L, "the dog ran to the cat on the mat")).toDF("doc_id", "text")
      .write.parquet(s"$root/target")
    def runConf(targetLine: String, out: String): Set[Long] = {
      val conf = s"$root/c-${out.hashCode.toHexString}.yaml"
      Files.write(java.nio.file.Paths.get(conf),
        s"""input_dir: $root/in
           |output_dir: $root/$out
           |stages:
           |  - kind: dsir_select
           |    keep: 4
           |    n: 64
           |    $targetLine
           |""".stripMargin.getBytes("UTF-8"))
      assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
      spark.read.parquet(s"$root/$out").select("doc_id").as[Long].collect().toSet
    }
    val docs = rows.toDF("doc_id", "text")
    val wantDir = Selection.dsirSelect(docs, spark.read.parquet(s"$root/target"),
        $"doc_id", $"text", 4, 64).select("doc_id").as[Long].collect().toSet
    assert(runConf(s"target_dir: $root/target", "out-dir") == wantDir,
      "target_dir config path diverged from the ops API")
    val wantLang = Selection.dsirSelect(docs, docs.filter(TA.langId($"text") === "en").select($"text"),
        $"doc_id", $"text", 4, 64).select("doc_id").as[Long].collect().toSet
    assert(runConf("target_lang: en", "out-lang") == wantLang,
      "target_lang config path diverged from the ops API")
    // the weight gap should pick the target-like slice
    assert(wantDir.forall(_ < 6L), s"expected english-ish docs selected, got $wantDir")
    // corpus-global: refused by incremental admission
    val conf2 = s"$root/c2.yaml"
    Files.write(java.nio.file.Paths.get(conf2),
      s"""input_dir: $root/in
         |output_dir: $root/out2
         |stages:
         |  - kind: dedup_exact
         |  - kind: dsir_select
         |    keep: 4
         |    target_lang: en
         |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      Cli.run(Seq("corpus", "run", conf2, "--into", s"$root/out-lang"), spark, _ => ()))
    assert(e.getMessage.contains("incremental"), e.getMessage)
  }

  test("cli: corpus explain reports per-stage plan shape without executing the chain") {
    import org.apache.spark.sql.functions._
    val root = tempDir("graft-explain-").toString
    (0 until 8).map(k => (k.toLong, s"the cat and dog number $k sit here quietly"))
      .toDF("doc_id", "text").write.parquet(s"$root/in")
    val conf = s"$root/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $root/in
         |output_dir: $root/out
         |stages:
         |  - kind: pii_scrub
         |  - kind: gopher_filter
         |  - kind: dedup_exact
         |""".stripMargin.getBytes("UTF-8"))
    val lines = collection.mutable.ListBuffer[String]()
    assert(Cli.run(Seq("corpus", "explain", conf), spark, lines += _) == 0)
    val stageLines = lines.filter(_.startsWith("stage "))
    assert(stageLines.size == 3, s"one line per stage: $stageLines")
    // the per-row stages are pure narrow scans — zero exchanges is the
    // number the command exists to surface
    assert(stageLines.take(2).forall(_.contains("exchanges=0")), s"$stageLines")
    // dedup_exact introduces its fingerprint agg + semi-join shuffles
    assert(!stageLines(2).contains("exchanges=0"), s"$stageLines")
    assert(lines.exists(_.contains("Scan parquet")), "final formatted plan missing")
    // nothing executed: no output written
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/out")))
  }

  test("cli: corpus explain leaves the session's AQE setting alone for concurrent jobs") {
    val root = tempDir("graft-explain-conf-").toString
    (0 until 8).map(k => (k.toLong, s"the cat and dog number $k sit here quietly"))
      .toDF("doc_id", "text").write.parquet(s"$root/in")
    val conf = s"$root/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $root/in
         |output_dir: $root/out
         |stages:
         |  - kind: pii_scrub
         |  - kind: dedup_exact
         |  - kind: dedup_near
         |""".stripMargin.getBytes("UTF-8"))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (rc, sawOff) = graft.ops.Par.both(
      try Cli.run(Seq("corpus", "explain", conf), spark, _ => ())
      finally done.set(true),
      {
        // another job's view of the session conf while explain plans
        var off = false
        while (!done.get()) {
          off ||= spark.conf.get("spark.sql.adaptive.enabled") == "false"
          Thread.onSpinWait()
        }
        off
      })
    assert(rc == 0)
    assert(!sawOff, "corpus explain turned AQE off for the whole session while it planned")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("cli: perplexity_filter model kn_bigram scores with the KN LM, equal to the ops API") {
    import org.apache.spark.sql.functions._
    import graft.ops.{TextAnalysis => TA, Vocab}
    val root = tempDir("graft-knconf-").toString
    // repeated fluent phrasing vs one-off shuffles: KN separates them
    val rows = ((0 until 6).map(k => (k.toLong, "the cat sat on the mat and the dog sat too")) ++
      Seq((6L, "mat the on dog sat cat and too the the"),
          (7L, "dog too and mat the sat on cat the sat"),
          (8L, "sat and cat the too mat dog the on the"))).toSeq
    rows.toDF("doc_id", "text").write.parquet(s"$root/in")
    val conf = s"$root/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $root/in
         |output_dir: $root/out
         |stages:
         |  - kind: perplexity_filter
         |    keep: 1
         |    model: kn_bigram
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val got = spark.read.parquet(s"$root/out").select("doc_id").as[Long].collect().toSet
    val docs = rows.toDF("doc_id", "text")
    val want = Vocab.perplexityBuckets(docs, "doc_id", $"text", TA.langId($"text"),
        (d, i, t) => Vocab.knBigramLogProb(d, i, t))
      .filter($"bucket" === "head").select("doc_id").as[Long].collect().toSet
    assert(got == want, s"config path diverged: got $got want $want")
    // an unknown model refuses loudly
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $root/in
         |output_dir: $root/out2
         |stages:
         |  - kind: perplexity_filter
         |    model: trigram
         |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Cli.run(Seq("corpus", "run", conf), spark, _ => ()))
    assert(e.getMessage.contains("kn_bigram"), e.getMessage)
  }

  test("cli: c4_clean, perplexity_filter and unimax_mix run from config, equal to the ops API") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Sampling, TextAnalysis => TA}
    val root = tempDir("graft-c4conf-").toString
    val out = s"$root/out"
    val conf = s"$root/c.yaml"
    // line-structured prose in two stopword languages; doc 0 carries a
    // curly brace so the C4 page gate drops it outright
    def en(k: Int) = Seq.tabulate(4)(j => s"the cat and dog number $k$j sits here.").mkString("\n")
    def de(k: Int) = Seq.tabulate(4)(j => s"der hund und die katze nummer $k$j ist.").mkString("\n")
    val rows = ((0 until 6).map(k => (k.toLong, en(k))) ++
      (6 until 12).map(k => (k.toLong, de(k))))
      .updated(0, (0L, en(0) + "\nthis bad line has a { brace inside."))
    rows.toDF("doc_id", "text").write.parquet(s"$root/in")
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $root/in
         |output_dir: $out
         |stages:
         |  - kind: c4_clean
         |  - kind: perplexity_filter
         |    keep: 2
         |  - kind: unimax_mix
         |    budget_frac: 0.8
         |    max_epochs: 2
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val got = spark.read.parquet(out)
    assert(got.columns.toSet == Set("doc_id", "stratum", "copy_idx"))
    assert(!got.select("doc_id").as[Long].collect().contains(0L),
      "the brace page survived the C4 gate")
    // ops-API mirror of the exact chain
    val docs = rows.toDF("doc_id", "text")
    val lines = split($"text", "\n")
    val cleaned = docs.filter(TA.c4PagePass(lines, TA.c4KeepLines(lines)))
      .withColumn("text", concat_ws("\n", TA.c4KeepLines(split($"text", "\n"))))
    val sel = graft.ops.Vocab
      .perplexityBuckets(cleaned, "doc_id", $"text", TA.langId($"text"))
      .filter($"bucket".isin("head", "middle")).select($"doc_id")
    val filtered = cleaned.join(sel, Seq("doc_id"), "left_semi")
    val want = Sampling.uniMaxManifest(
      filtered.withColumn("__l", TA.langId($"text")),
      $"doc_id", $"__l", TA.tokenCount($"text"), 0.8, 2.0)
    assert(got.select("doc_id", "stratum", "copy_idx").as[(Long, String, Long)].collect().toSet ==
      want.as[(Long, String, Long)].collect().toSet,
      "config-driven chain diverged from the ops API")
  }

  test("cli: corpus run --into admits shards incrementally, equal to from-scratch on the union") {
    import spark.implicits._
    val root = tempDir("graft-corpus-inc-").toString
    // 40-word base texts so a one-word edit stays deep inside the LSH
    // banding's recall envelope (jaccard ~0.85 → miss odds ~1e-5)
    def sent(words: Seq[String]): String = words.mkString(" ")
    val vocab = ('a' to 'z').map(c => s"w$c")
    val t1 = sent(Seq.tabulate(40)(i => vocab(i % 26)))
    val t1near = sent(Seq.tabulate(40)(i => if (i == 39) "changed" else vocab(i % 26)))
    val t2 = sent(Seq.tabulate(40)(i => vocab((i * 3 + 1) % 26)))
    val t3 = sent(Seq.tabulate(40)(i => vocab((i * 5 + 2) % 26)))
    val t4 = sent(Seq.tabulate(40)(i => vocab((i * 7 + 3) % 26)))
    val t4near = sent(Seq.tabulate(40)(i => if (i == 0) "altered" else vocab((i * 7 + 3) % 26)))
    val t5 = sent(Seq.tabulate(40)(i => vocab((i * 11 + 4) % 26)))
    val t6 = sent(Seq.tabulate(40)(i => vocab((i * 17 + 5) % 26)))
    val shard1 = Seq((1L, t1), (2L, t1), (3L, t2), (4L, t3))
    val shard2 = Seq((101L, t1), (102L, t1near), (103L, t4), (104L, t4near), (105L, t5))
    val shard3 = Seq((201L, t5), (202L, t6))
    def writeShard(name: String, rows: Seq[(Long, String)]): String = {
      val p = s"$root/$name"
      rows.toDF("doc_id", "text").write.parquet(p)
      p
    }
    val (in1, in2, in3) =
      (writeShard("shard1", shard1), writeShard("shard2", shard2), writeShard("shard3", shard3))
    val outDir = s"$root/corpus"
    def conf(input: String, output: String): String = {
      val p = s"$root/conf-${input.split('/').last}-${output.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $output
           |stages:
           |  - kind: pii_scrub
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.5
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf(in1, outDir)), spark, printed += _) == 0)
    // the seed run wrote its artifacts eagerly; DELETE them here to pin
    // the LAZY bootstrap path an externally-produced output takes
    // (the eager path has its own test below)
    val fsArt = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fsArt.delete(new org.apache.hadoop.fs.Path(s"$outDir.artifacts"), true),
      "seed run should have written eager artifacts")
    assert(Cli.run(Seq("corpus", "run", conf(in2, outDir), "--into", outDir),
      spark, printed += _) == 0)
    // increment 1 had to build the artifacts from the prior output...
    assert(printed.exists(_.contains("building fingerprint artifact")))
    assert(printed.exists(_.contains("building LSH index artifact")))
    printed.clear()
    assert(Cli.run(Seq("corpus", "run", conf(in3, outDir), "--into", outDir),
      spark, printed += _) == 0)
    // ...increment 2 must only READ them (and the extended fp set must
    // reject 201, a duplicate of a row ADMITTED in increment 1)
    assert(!printed.exists(_.contains("building")),
      "second increment rebuilt artifacts instead of reading them")
    val got = spark.read.parquet(outDir).as[(Long, String)].collect().toSet
    assert(got.map(_._1) == Set(1L, 3L, 4L, 103L, 105L, 202L))
    // from-scratch over the union of all three shards = the incremental end state
    val unionIn = writeShard("union", shard1 ++ shard2 ++ shard3)
    val scratchOut = s"$root/scratch"
    assert(Cli.run(Seq("corpus", "run", conf(unionIn, scratchOut)), spark, _ => ()) == 0)
    val scratch = spark.read.parquet(scratchOut).as[(Long, String)].collect().toSet
    assert(got == scratch, "incremental admission diverged from the from-scratch union run")
  }

  test("cli: corpus run --into rejects a shard whose ids do not sort after the corpus") {
    import spark.implicits._
    val root = tempDir("graft-inc-idguard-").toString
    val t = Seq.tabulate(40)(i => s"g$i").mkString(" ")
    Seq((10L, t)).toDF("doc_id", "text").write.parquet(s"$root/seed")
    // id 5 under-cuts the admitted corpus's max (10): the from-scratch
    // union would keep 5 as the exact-dup keeper, the incremental path
    // keeps the immutable corpus row — silent divergence, so it must
    // raise instead
    Seq((5L, t + " fresh")).toDF("doc_id", "text").write.parquet(s"$root/shard")
    def conf(input: String): String = {
      val p = s"$root/conf-${input.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"input_dir: $input\noutput_dir: $root/corpus\nstages:\n  - kind: dedup_exact\n"
          .getBytes("UTF-8"))
      p
    }
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed")), spark, _ => ()) == 0)
    val ex = intercept[IllegalArgumentException] {
      Cli.run(Seq("corpus", "run", conf(s"$root/shard"), "--into", s"$root/corpus"),
        spark, _ => ())
    }
    assert(ex.getMessage.contains("sort after"), ex.getMessage)
    // nothing was appended by the refused shard
    assert(spark.read.parquet(s"$root/corpus").count() == 1L)
  }

  test("cli: incremental admission rejects transitive duplicates bridged by dropped rows") {
    import spark.implicits._
    val root = tempDir("graft-inc-trans-").toString
    val vocab = ('a' to 'z').map(c => s"t$c")
    val base = Seq.tabulate(40)(i => vocab(i % 26))
    val tK = base.mkString(" ")
    // D differs from K in one word (jaccard ≈ 0.85 on 3-grams), F
    // differs from D in ANOTHER word — so F∼D (≈0.85) but F vs K has
    // two edits (≈0.73, below the 0.8 threshold). The only route from
    // F to the cluster is THROUGH the dropped bridge D.
    val tD = base.updated(39, "bridgeword").mkString(" ")
    val tF = base.updated(39, "bridgeword").updated(20, "farword").mkString(" ")
    Seq((1L, tK)).toDF("doc_id", "text").write.parquet(s"$root/seed")
    Seq((101L, tD)).toDF("doc_id", "text").write.parquet(s"$root/shardA")
    // 201 near-dups the DROPPED 101; 202 exact-dups the DROPPED 101
    Seq((201L, tF), (202L, tD)).toDF("doc_id", "text").write.parquet(s"$root/shardB")
    def conf(input: String, output: String): String = {
      val p = s"$root/conf-${input.split('/').last}-${output.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $output
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.8
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    val outDir = s"$root/corpus"
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed", outDir)), spark, _ => ()) == 0)
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/shardA", outDir), "--into", outDir),
      spark, _ => ()) == 0)
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/shardB", outDir), "--into", outDir),
      spark, _ => ()) == 0)
    def ids(dir: String): Set[Long] =
      spark.read.parquet(dir).select($"doc_id").as[Long].collect().toSet
    // from-scratch over the union: cluster {1, 101, 201} via the
    // transitive pair chain keeps 1; 202 dies in exact dedup against
    // the dropped 101
    Seq((1L, tK), (101L, tD), (201L, tF), (202L, tD)).toDF("doc_id", "text")
      .write.parquet(s"$root/union")
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/union", s"$root/scratch")),
      spark, _ => ()) == 0)
    assert(ids(s"$root/scratch") == Set(1L), "from-scratch baseline surprised us")
    assert(ids(outDir) == Set(1L),
      s"transitive duplicates leaked through dropped-row bridges: ${ids(outDir)}")
    // the artifacts that carry the coverage exist
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$outDir.artifacts/near_dropped")),
      "near_dropped text artifact missing")
  }

  test("cli: from-scratch runs write admission artifacts eagerly, covering their own drops") {
    import spark.implicits._
    val root = tempDir("graft-eager-art-").toString
    val vocab = ('a' to 'z').map(c => s"e$c")
    val base = Seq.tabulate(40)(i => vocab(i % 26))
    val tK = base.mkString(" ")
    val tD = base.updated(39, "bridgeword").mkString(" ")          // ∼K (0.897)
    val tF = base.updated(39, "bridgeword").updated(20, "farword") // ∼D (0.81) but not ∼K (0.72)
      .mkString(" ")
    // the FROM-SCRATCH run drops D (near-dup of K) — previously that
    // drop was unrecoverable (the lazy bootstrap indexes survivors
    // only) and a later duplicate of D slipped through
    Seq((1L, tK), (2L, tD)).toDF("doc_id", "text").write.parquet(s"$root/seed")
    Seq((201L, tF), (202L, tD)).toDF("doc_id", "text").write.parquet(s"$root/shard")
    def conf(input: String, output: String): String = {
      val p = s"$root/conf-${input.split('/').last}-${output.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $output
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.8
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    val outDir = s"$root/corpus"
    val printed = collection.mutable.Buffer[String]()
    // the run and the increment release every pin (dedup_near's
    // cluster rounds included) when they return
    assert(runReleasing(Seq("corpus", "run", conf(s"$root/seed", outDir)), printed += _) == 0)
    assert(printed.exists(_.contains("admission artifacts written")), printed.mkString("\n"))
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    for (a <- Seq("fp", "lsh", "near_dropped"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$outDir.artifacts/$a/_SUCCESS")),
        s"eager artifact $a missing")
    // the dropped bridge D is in the text coverage
    assert(spark.read.parquet(s"$outDir.artifacts/near_dropped")
      .select($"doc_id").as[Long].collect().toSet == Set(2L))
    // the increment must NOT re-read corpus text (no lazy bootstrap)…
    printed.clear()
    assert(runReleasing(Seq("corpus", "run", conf(s"$root/shard", outDir), "--into", outDir),
      printed += _) == 0)
    assert(!printed.exists(_.contains("building")),
      s"increment re-built artifacts despite the eager write:\n${printed.mkString("\n")}")
    // …and must reject 201 (∼ the from-scratch-dropped D only) and 202
    // (exact dup of D), matching the from-scratch union exactly
    def ids(dir: String): Set[Long] =
      spark.read.parquet(dir).select($"doc_id").as[Long].collect().toSet
    assert(ids(outDir) == Set(1L),
      s"duplicates of from-scratch-dropped rows leaked: ${ids(outDir)}")
    Seq((1L, tK), (2L, tD), (201L, tF), (202L, tD)).toDF("doc_id", "text")
      .write.parquet(s"$root/union")
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/union", s"$root/scratch")),
      spark, _ => ()) == 0)
    assert(ids(s"$root/scratch") == ids(outDir), "diverged from the from-scratch union")
    // a re-run of `corpus run` over the same output replaces the
    // artifacts (stale-artifact hygiene on the overwrite path)
    Seq((1L, tK)).toDF("doc_id", "text").write.parquet(s"$root/seed2")
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed2", outDir)), spark, _ => ()) == 0)
    assert(spark.read.parquet(s"$outDir.artifacts/near_dropped").count() == 0L,
      "overwriting the output left stale drop coverage beside it")
    // a per-row stage AFTER a dedup stage breaks the incremental-chain
    // rule (it rewrites the text the dedup keys hashed): `corpus run`
    // writes no artifacts for such a chain, and `--into` refuses it
    val unordered = s"$root/unordered"
    val unorderedConf = s"$root/conf-unordered.yaml"
    Files.write(java.nio.file.Paths.get(unorderedConf),
      s"""input_dir: $root/seed
         |output_dir: $unordered
         |stages:
         |  - kind: dedup_exact
         |  - kind: pii_scrub
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", unorderedConf), spark, _ => ()) == 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$unordered.artifacts")),
      "an out-of-order chain wrote admission artifacts eagerly")
    val refused = intercept[IllegalArgumentException] {
      Cli.run(Seq("corpus", "run", unorderedConf, "--into", unordered), spark, _ => ())
    }
    assert(refused.getMessage.contains("per-row stages must precede the dedup stages"),
      refused.getMessage)
  }

  test("cli: corpus compact collapses file groups, admission results unchanged") {
    import spark.implicits._
    val root = tempDir("graft-inc-compact-").toString
    val vocab = ('a' to 'z').map(c => s"c$c")
    def sent(f: Int => String): String = Seq.tabulate(40)(f).mkString(" ")
    def fresh(k: Int): String = sent(i => vocab((i * (2 * k + 3) + k) % 26))
    Seq((1L, fresh(1)), (2L, fresh(2))).toDF("doc_id", "text").write.parquet(s"$root/seed")
    Seq((101L, fresh(3)), (102L, fresh(1))).toDF("doc_id", "text").write.parquet(s"$root/s1")
    Seq((201L, fresh(4)),
        (202L, fresh(3).replace(vocab(0), "edited"))).toDF("doc_id", "text")
      .write.parquet(s"$root/s2")
    // 301 near-dups 202 (DROPPED in increment 2): post-compact this
    // still rejects only if compaction preserved near_dropped coverage
    Seq((301L, fresh(3).replace(vocab(0), "edited").replace(vocab(1), "moved")),
        (302L, fresh(5))).toDF("doc_id", "text").write.parquet(s"$root/s3")
    val outDir = s"$root/corpus"
    def conf(input: String): String = {
      val p = s"$root/conf-${input.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $outDir
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.75
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed")), spark, _ => ()) == 0)
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/s1"), "--into", outDir), spark, _ => ()) == 0)
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/s2"), "--into", outDir), spark, _ => ()) == 0)
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    def parquetFiles(dir: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .count(_.getPath.getName.endsWith(".parquet"))
    def ids(): Set[Long] =
      spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    val (beforeIds, beforeOut, beforeLsh) =
      (ids(), parquetFiles(outDir), parquetFiles(s"$outDir.artifacts/lsh"))
    assert(beforeOut >= 3 && beforeLsh >= 2, s"fixture too small: $beforeOut/$beforeLsh")
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "compact", conf(s"$root/seed")), spark, printed += _) == 0)
    assert(printed.exists(_.contains("compacted")), printed.mkString("\n"))
    assert(ids() == beforeIds, "compaction changed the corpus rows")
    assert(parquetFiles(outDir) < beforeOut, "output file count did not shrink")
    assert(parquetFiles(s"$outDir.artifacts/lsh") < beforeLsh, "lsh file count did not shrink")
    // the parameter stamp must survive compaction — increments refuse
    // the index without it
    assert(spark.read.parquet(s"$outDir.artifacts/lsh").schema("band")
      .metadata.contains("graft.bands"), "compaction stripped the parameter stamp")
    // the next increment still admits correctly: 301 rejected through
    // the compacted near_dropped bridge, 302 fresh
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/s3"), "--into", outDir), spark, _ => ()) == 0)
    assert(ids() == beforeIds + 302L, s"post-compact increment got ${ids()}")
  }

  test("cli: epoch_mix weight tokens targets the mix in token mass") {
    import org.apache.spark.sql.functions._
    val outDir = tempDir("graft-epoch-tok-").toString + "/out"
    val conf = tempDir("graft-epoch-tok-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: epoch_mix
         |    weight: tokens
         |    rates:
         |      en: 0.5
         |      und: 0.5
         |""".stripMargin.getBytes("UTF-8"))
    assert(Cli.run(Seq("corpus", "run", conf), spark, _ => ()) == 0)
    val got = spark.read.parquet(outDir)
      .select($"doc_id", $"stratum", $"copy_idx").as[(Long, String, Long)].collect().toSet
    // config path ≡ ops API with the token-count weight
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .withColumn("lang", graft.ops.TextAnalysis.langId($"text"))
    val want = graft.ops.Sampling.epochMixture(docs, $"doc_id", $"lang",
        Map("en" -> 0.5, "und" -> 0.5),
        weight = graft.ops.TextAnalysis.tokenCount($"text"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want, "config token weighting diverged from the ops API")
    // and it actually differs from the doc-count default on this data
    val docWeighted = graft.ops.Sampling.epochMixture(docs, $"doc_id", $"lang",
        Map("en" -> 0.5, "und" -> 0.5))
      .as[(Long, String, Long)].collect().toSet
    assert(got != docWeighted, "token weighting was indistinguishable from doc weighting")
    // a bogus weight value is refused loudly
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: /root/testdata/sf0.001/documents.parquet
         |output_dir: $outDir-bad
         |stages:
         |  - kind: epoch_mix
         |    weight: bytes
         |    rates:
         |      en: 0.5
         |""".stripMargin.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      Cli.run(Seq("corpus", "run", conf), spark, _ => ())
    }
  }

  test("cli: incremental dedup_semantic admits against the cosine-LSH artifact") {
    import spark.implicits._
    val root = tempDir("graft-inc-sem-").toString
    val vocab = ('a' to 'z').map(c => s"u$c")
    def sent(f: Int => String): String = Seq.tabulate(40)(f).mkString(" ")
    // textually-unrelated docs; similarity lives in the vectors. The
    // seed corpus needs >= 16 vectors for the batch run's k-means
    // training floor.
    def text(i: Long): String = sent(j => vocab(((j + 1) * (i + 3)).toInt % 26))
    def basis(k: Int, eps: Float = 0f, k2: Int = 1): Array[Float] = {
      val v = Array.fill(64)(0f); v(k) = 1f; if (eps != 0f) v(k2) = eps; v
    }
    // 101 ≈ corpus vec 1 (cos ≈ 0.99) → dropped; 102 fresh; 103 ≈ 102 →
    // in-batch semantic dup, min id 102 survives
    val seedIds = (1L to 20L)
    val vecs = seedIds.map(i => (i, basis((i - 1).toInt))) ++ Seq(
      (101L, basis(0, 0.14f, 50)), (102L, basis(30)), (103L, basis(30, 0.14f, 51)))
    vecs.toDF("vec_id", "embedding").write.parquet(s"$root/emb")
    seedIds.map(i => (i, text(i))).toDF("doc_id", "text")
      .write.parquet(s"$root/seed")
    Seq(101L, 102L, 103L).map(i => (i, text(i))).toDF("doc_id", "text")
      .write.parquet(s"$root/shard")
    val outDir = s"$root/corpus"
    def conf(input: String): String = {
      val p = s"$root/conf-${input.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $outDir
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_semantic
           |    embeddings_dir: $root/emb
           |    threshold: 0.4
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed")), spark, _ => ()) == 0)
    // pin the LAZY cosine bootstrap: drop the seed run's eager artifacts
    new org.apache.hadoop.fs.Path(outDir).getFileSystem(
        spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(s"$outDir.artifacts"), true)
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/shard"), "--into", outDir),
      spark, printed += _) == 0)
    assert(printed.exists(_.contains("building cosine-LSH index artifact")))
    def ids(): Set[Long] =
      spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    assert(ids() == seedIds.toSet + 102L, s"semantic admission got ${ids()}")
    // a second shard: 201 ≈ 102 (admitted LAST increment — proves the
    // artifact extension), 202 fresh; no rebuild line this time
    Seq((201L, sent(i => vocab((i * 13 + 5) % 26))),
        (202L, sent(i => vocab((i * 17 + 6) % 26))))
      .toDF("doc_id", "text").write.parquet(s"$root/shard2")
    (vecs ++ Seq((201L, basis(30, 0.1f, 52)), (202L, basis(40))))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$root/emb2")
    Files.write(java.nio.file.Paths.get(s"$root/conf2.yaml"),
      s"""input_dir: $root/shard2
         |output_dir: $outDir
         |stages:
         |  - kind: dedup_exact
         |  - kind: dedup_semantic
         |    embeddings_dir: $root/emb2
         |    threshold: 0.4
         |""".stripMargin.getBytes("UTF-8"))
    printed.clear()
    assert(Cli.run(Seq("corpus", "run", s"$root/conf2.yaml", "--into", outDir),
      spark, printed += _) == 0)
    assert(!printed.exists(_.contains("building cosine-LSH")),
      "second increment rebuilt the cosine index instead of reading it")
    assert(ids() == seedIds.toSet + 102L + 202L, s"second increment got ${ids()}")
  }

  test("cli: corpus stream --into admits JSONL micro-batches against the artifacts") {
    import spark.implicits._
    val root = tempDir("graft-csi-").toString
    val vocab = ('a' to 'z').map(c => s"v$c")
    def sent(f: Int => String): String = Seq.tabulate(40)(f).mkString(" ")
    val t1 = sent(i => vocab(i % 26))
    val t1near = sent(i => if (i == 39) "edited" else vocab(i % 26))
    val t2 = sent(i => vocab((i * 3 + 1) % 26))
    val t3 = sent(i => vocab((i * 5 + 2) % 26))
    val t3near = sent(i => if (i == 0) "tweaked" else vocab((i * 5 + 2) % 26))
    val t4 = sent(i => vocab((i * 7 + 3) % 26))
    val outDir = s"$root/corpus"
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.parquet(s"$root/seed")
    def conf(input: String): String = {
      val p = s"$root/conf-${input.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $outDir
           |checkpoint_dir: $root/ckpt
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.5
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed")), spark, _ => ()) == 0)
    val watch = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(watch))
    def jline(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "ts": "2026-01-01T00:00:00.000Z"}"""
    def ids(): Set[Long] =
      spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    val printed = collection.mutable.Buffer[String]()
    val streamConf = conf(watch)
    // batch 1: 101 repeats corpus text (fp artifact), 102 near-dups it
    // (lsh artifact), 103 is fresh
    Files.writeString(java.nio.file.Paths.get(watch, "b1.json"),
      Seq(jline(101L, t1), jline(102L, t1near), jline(103L, t3))
        .mkString("", "\n", "\n"))
    assert(Cli.run(Seq("corpus", "stream", streamConf, "--into", outDir),
      spark, printed += _) == 0)
    assert(ids() == Set(1L, 2L, 103L), s"batch 1 admitted ${ids()}")
    // batch 2, same checkpoint: b1 is NOT re-delivered; the EXTENDED
    // artifacts reject 201 (exact dup of 103, admitted by a prior
    // micro-batch) and 202 (near-dup of 103); 203 is fresh
    Files.writeString(java.nio.file.Paths.get(watch, "b2.json"),
      Seq(jline(201L, t3), jline(202L, t3near), jline(203L, t4))
        .mkString("", "\n", "\n"))
    assert(Cli.run(Seq("corpus", "stream", streamConf, "--into", outDir),
      spark, printed += _) == 0)
    assert(ids() == Set(1L, 2L, 103L, 203L), s"batch 2 admitted ${ids()}")
    // the idempotence guard is mandatory on the streaming path
    val bad = s"$root/bad.yaml"
    Files.writeString(java.nio.file.Paths.get(bad),
      s"input_dir: $watch\noutput_dir: $outDir\ncheckpoint_dir: $root/ckpt2\n" +
        "stages:\n  - kind: dedup_near\n")
    intercept[IllegalArgumentException] {
      Cli.run(Seq("corpus", "stream", bad, "--into", outDir), spark, _ => ())
    }
  }

  test("cli: corpus stream --into replays a crashed micro-batch without duplicates") {
    import spark.implicits._
    val root = tempDir("graft-csi-replay-").toString
    val vocab = ('a' to 'z').map(c => s"r$c")
    def sent(f: Int => String): String = Seq.tabulate(40)(f).mkString(" ")
    val t1 = sent(i => vocab(i % 26))
    val t2 = sent(i => vocab((i * 3 + 1) % 26))
    val t4 = sent(i => vocab((i * 7 + 3) % 26))
    val t4near = sent(i => if (i == 0) "revised" else vocab((i * 7 + 3) % 26))
    val t5 = sent(i => vocab((i * 11 + 4) % 26))
    val outDir = s"$root/corpus"
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.parquet(s"$root/seed")
    def conf(input: String): String = {
      val p = s"$root/conf-${input.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $outDir
           |checkpoint_dir: $root/ckpt
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.5
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed")), spark, _ => ()) == 0)
    val watch = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(watch))
    def jline(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "ts": "2026-01-01T00:00:00.000Z"}"""
    val streamConf = conf(watch)
    // SIMULATED CRASH: a batch containing 111 died after its corpus
    // append committed but BEFORE any artifact extension or checkpoint
    // commit — 111 sits in the output, the indexes have never heard of
    // it, and the file source will deliver the whole file again
    Seq((111L, t4)).toDF("doc_id", "text").write.mode("append").parquet(outDir)
    Files.writeString(java.nio.file.Paths.get(watch, "b1.json"),
      Seq(jline(111L, t4), jline(112L, t4near), jline(113L, t5))
        .mkString("", "\n", "\n"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "stream", streamConf, "--into", outDir),
      spark, printed += _) == 0)
    assert(printed.exists(_.contains("re-extending artifacts")),
      s"replay recovery did not trigger:\n${printed.mkString("\n")}")
    val rows = spark.read.parquet(outDir).as[(Long, String)].collect().toSeq
    // 111 exactly once (no double append), 112 rejected as a near-dup
    // of the REPLAYED 111 — possible only because recovery re-extended
    // the lsh index before re-admitting the rest — 113 fresh
    assert(rows.count(_._1 == 111L) == 1, s"replayed row duplicated: $rows")
    assert(rows.map(_._1).toSet == Set(1L, 2L, 111L, 113L),
      s"replay admitted ${rows.map(_._1).toSet}")
    // marker fast path: the same files under a FRESH checkpoint restart
    // batch ids at 0, and the marker must NOT false-match the old
    // lineage's batch 0 — the batch re-admits (and dedup keeps it a
    // no-op) instead of being skipped
    val conf2 = s"$root/conf2.yaml"
    Files.writeString(java.nio.file.Paths.get(conf2),
      s"input_dir: $watch\noutput_dir: $outDir\ncheckpoint_dir: $root/ckpt-fresh\n" +
        "stages:\n  - kind: dedup_exact\n  - kind: dedup_near\n    n: 3\n    threshold: 0.5\n")
    printed.clear()
    assert(Cli.run(Seq("corpus", "stream", conf2, "--into", outDir),
      spark, printed += _) == 0)
    assert(!printed.exists(_.contains("skipping replay")),
      "fresh-checkpoint lineage false-matched an old marker")
    assert(spark.read.parquet(outDir).as[(Long, String)].collect()
      .map(_._1).toSet == Set(1L, 2L, 111L, 113L), "fresh-lineage replay changed the corpus")
    // and a marked batch within the SAME lineage is skipped outright:
    // pre-mark the lineage's next batch id (1) and verify its rows are
    // treated as already admitted
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(s"$outDir.artifacts"))
      .map(_.getPath.getName).filter(_.startsWith("_batch-"))
    assert(markers.nonEmpty, "no completion markers were written")
    val ck = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$root/ckpt".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    assert(markers.contains(s"_batch-$ck-0"), s"unexpected marker names: ${markers.toSeq}")
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir.artifacts/_batch-$ck-1"), true).close()
    Files.writeString(java.nio.file.Paths.get(watch, "b2.json"),
      jline(115L, sent(i => vocab((i * 17 + 6) % 26))) + "\n")
    printed.clear()
    assert(Cli.run(Seq("corpus", "stream", streamConf, "--into", outDir),
      spark, printed += _) == 0)
    assert(printed.exists(_.contains("skipping replay")),
      s"marked batch was not skipped:\n${printed.mkString("\n")}")
    assert(spark.read.parquet(outDir).as[(Long, String)].collect()
      .map(_._1).toSet == Set(1L, 2L, 111L, 113L), "a marked batch still appended rows")
  }

  test("cli: replay recovers a crash between the index appends and the fingerprint append") {
    import spark.implicits._
    val root = tempDir("graft-csi-fpwin-").toString
    val vocab = ('a' to 'z').map(c => s"f$c")
    def sent(f: Int => String): String = Seq.tabulate(40)(f).mkString(" ")
    val t1 = sent(i => vocab(i % 26))
    val t2 = sent(i => vocab((i * 3 + 1) % 26))
    val t2near = sent(i => if (i == 0) "patched" else vocab((i * 3 + 1) % 26))
    val t5 = sent(i => vocab((i * 11 + 4) % 26))
    val outDir = s"$root/corpus"
    Seq((1L, t1)).toDF("doc_id", "text").write.parquet(s"$root/seed")
    def conf(input: String): String = {
      val p = s"$root/conf-${input.split('/').last}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        s"""input_dir: $input
           |output_dir: $outDir
           |checkpoint_dir: $root/ckpt
           |stages:
           |  - kind: dedup_exact
           |  - kind: dedup_near
           |    n: 3
           |    threshold: 0.5
           |""".stripMargin.getBytes("UTF-8"))
      p
    }
    assert(Cli.run(Seq("corpus", "run", conf(s"$root/seed")), spark, _ => ()) == 0)
    // SIMULATED CRASH deeper than the no-extensions window: the batch
    // {101: t2 (admitted), 102: t2near (near-dropped)} committed its
    // output append AND its lsh + near_dropped extensions, then died
    // BEFORE the fingerprint append (which deliberately commits last)
    // and the marker. If fp had committed first, the replayed 102
    // would be exact-dropped against its own fingerprint and its index
    // coverage lost forever.
    Seq((101L, t2)).toDF("doc_id", "text").write.mode("append").parquet(outDir)
    val crashed = Seq((101L, t2), (102L, t2near)).toDF("doc_id", "text")
    graft.ops.Dedup.buildLshIndex(crashed, "doc_id", $"text", 3)
      .write.mode("append").parquet(s"$outDir.artifacts/lsh")
    Seq((102L, t2near)).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$outDir.artifacts/near_dropped")
    val watch = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(watch))
    def jline(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "ts": "2026-01-01T00:00:00.000Z"}"""
    Files.writeString(java.nio.file.Paths.get(watch, "b1.json"),
      Seq(jline(101L, t2), jline(102L, t2near)).mkString("", "\n", "\n"))
    assert(Cli.run(Seq("corpus", "stream", conf(watch), "--into", outDir),
      spark, _ => ()) == 0)
    def rows(): Seq[(Long, String)] =
      spark.read.parquet(outDir).as[(Long, String)].collect().toSeq
    assert(rows().count(_._1 == 101L) == 1, s"survivor duplicated: ${rows()}")
    assert(rows().map(_._1).toSet == Set(1L, 101L),
      s"replay admitted ${rows().map(_._1).toSet}")
    // the replay must have re-processed 102 through the near stage and
    // finished the crashed attempt's missing fp coverage: a later batch
    // exact-duplicating the SURVIVOR (201), the DROPPED row (202), or
    // near-duplicating the dropped row's text (all rejected), plus a
    // fresh doc (203, admitted)
    Files.writeString(java.nio.file.Paths.get(watch, "b2.json"),
      Seq(jline(201L, t2), jline(202L, t2near), jline(203L, t5))
        .mkString("", "\n", "\n"))
    assert(Cli.run(Seq("corpus", "stream", conf(watch), "--into", outDir),
      spark, _ => ()) == 0)
    assert(rows().map(_._1).toSet == Set(1L, 101L, 203L),
      s"post-recovery admission got ${rows().map(_._1).toSet}")
    // the id-discipline guard still fires on a NON-replay reuse: same
    // id 101 with brand-new text must be refused, not absorbed (the
    // require fires inside foreachBatch, so the streaming engine wraps
    // it — scan the cause chain)
    Files.writeString(java.nio.file.Paths.get(watch, "b3.json"),
      jline(101L, sent(i => vocab((i * 17 + 6) % 26))) + "\n")
    val ex = intercept[Exception] {
      Cli.run(Seq("corpus", "stream", conf(watch), "--into", outDir), spark, _ => ())
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("id-discipline")),
      s"expected the id-discipline refusal, got: $ex")
    assert(rows().map(_._1).toSet == Set(1L, 101L, 203L),
      "the refused batch must not have appended anything")
  }

  test("telemetry: off by default, local JSONL capture when enabled, never throws") {
    assert(!Telemetry.isEnabled)
    Telemetry.capture("ignored") // no sink — must be a no-op
    val f = tempFile("graft-telemetry-", ".jsonl")
    try {
      Telemetry.enable(f.toString)
      Telemetry.capture("cli_command", Map("command" -> "dump create", "quote" -> "a\"b"))
      val lines = Files.readAllLines(f)
      assert(lines.size() == 1)
      assert(lines.get(0).contains("\"event\":\"cli_command\""))
      assert(lines.get(0).contains("\"command\":\"dump create\""))
      assert(lines.get(0).contains("\"quote\":\"a\\\"b\""))
    } finally {
      Telemetry.disable()
      Files.deleteIfExists(f)
    }
    assert(!Telemetry.isEnabled)
  }

  test("live mongo legs: mongodump source -> pipeline -> mongorestore destination (stubbed tools)") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-mongolive-")
    // a real archive for the stub mongodump to emit, built by the
    // writer the specs already pin byte-exactly
    // names > 3 chars: `redacted` passes shorter strings through
    // (reference transformer/redacted.rs:79-98), which would make the
    // masking assertion below vacuous
    val users = Seq((1L, "adaline", 3.5), (2L, "bobbert", -1.0)).toDF("id", "name", "score")
    val events = Seq((10L, "click"), (11L, "view")).toDF("event_id", "kind")
    val bos = new java.io.ByteArrayOutputStream()
    graft.ingest.MongoArchive.writeTables(bos, "livedb",
      Seq("events" -> events, "users" -> users))
    val archivePath = dir.resolve("dump.archive")
    Files.write(archivePath, bos.toByteArray)
    // stub tools: mongodump records its argv and cats the archive;
    // mongorestore records argv and spools stdin to a file
    val dumpArgsF = dir.resolve("dump.args"); val restArgsF = dir.resolve("rest.args")
    val restoredF = dir.resolve("restored.bin")
    val dumpStub = dir.resolve("mongodump.sh")
    Files.writeString(dumpStub, s"#!/bin/sh\necho \"$$@\" > $dumpArgsF\ncat $archivePath\n")
    val restStub = dir.resolve("mongorestore.sh")
    Files.writeString(restStub, s"#!/bin/sh\necho \"$$@\" > $restArgsF\ncat > $restoredF\n")
    Seq(dumpStub, restStub).foreach(_.toFile.setExecutable(true))
    val store = tempDir("graft-mongolive-store-").toString
    val conf = tempFile("graft-mongolive-conf-", ".yaml")
    // BARE skip_tables / transformer entries (the example-yaml shape):
    // with a mongodb source they must default to the URI's database,
    // not the SQL-side "public" — otherwise the exclusion and the
    // masking would silently match nothing and the dump would go out
    // unfiltered (ADVICE r15; GraftConfig.defaultDb)
    Files.writeString(conf,
      s"""source:
         |  connection_uri: mongodb://localhost:27017/livedb
         |  skip_tables: [events]
         |  transformers:
         |    - table: users
         |      columns:
         |        - name: name
         |          transformer_name: redacted
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  connection_uri: mongodb://otherhost:27017/livedb
         |""".stripMargin)
    val mongoConf = GraftConfig.fromYaml(Files.readString(conf))
    assert(mongoConf.defaultDb == "livedb")
    assert(mongoConf.filters.skipTables ==
      Seq(graft.model.TableRef("livedb", "events")))
    assert(mongoConf.bindings.map(b => (b.database, b.table, b.column)) ==
      Seq(("livedb", "users", "name")))
    spark.conf.set("spark.graft.mongodumpCmd", dumpStub.toString)
    spark.conf.set("spark.graft.mongorestoreCmd", restStub.toString)
    val printed = collection.mutable.Buffer[String]()
    try {
      // source schema prints inferred schemas via the mongodump stream
      assert(Cli.run(Seq("-c", conf.toString, "source", "schema"), spark, printed += _) == 0)
      assert(printed.exists(_.contains("table: livedb.users")))
      assert(printed.exists(_.contains("table: livedb.events")))
      assert(Files.readString(dumpArgsF).trim ==
        "--uri mongodb://localhost:27017/livedb --db livedb --archive")
      // dump create: mongodump -> archive -> the standard pipeline/store
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "mongo-live"), spark,
        printed += _) == 0)
      assert(printed.exists(_.contains("dump created: mongo-live")))
      // restore: tables -> archive bytes -> mongorestore stdin; the
      // spooled bytes must BE a valid archive holding the same data
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "mongo-live"), spark,
        printed += _) == 0)
      // wipe defaults TRUE (the JDBC leg's idempotent-re-run
      // convention) → --drop; rowToDoc emits no _id, so a dropless
      // re-run would double every document
      assert(Files.readString(restArgsF).trim ==
        "--uri mongodb://otherhost:27017/livedb --nsFrom=livedb.* --nsTo=livedb.* --drop --archive")
      val back = graft.ingest.MongoArchive.read(Files.readAllBytes(restoredF))
      // events was skip_tables'd under its real namespace → excluded
      assert(back.collections.keySet == Set("livedb.users"))
      val restoredUsers = graft.ingest.MongoArchive.restore(spark, back)("livedb.users")
      val rows = restoredUsers.select(col("id"), col("name"), col("score"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      // the BARE-keyed transformer binding actually fired under the
      // mongo namespace: names are masked, not passed through
      assert(rows == Set((1L, "ada**********", 3.5), (2L, "bob**********", -1.0)),
        s"bare transformer binding did not apply: $rows")
      // failure is loud and carries the tool's stderr
      val failStub = dir.resolve("failing.sh")
      Files.writeString(failStub, "#!/bin/sh\necho 'connection refused' >&2\nexit 3\n")
      failStub.toFile.setExecutable(true)
      val e = intercept[IllegalStateException] {
        graft.ingest.MongoLive.dump("mongodb://x/livedb", "livedb", Seq(failStub.toString))
      }
      assert(e.getMessage.contains("exited 3") && e.getMessage.contains("connection refused"))
      // a database-less URI is refused loudly on both legs (the SQL-side
      // "public" default names nothing on a Mongo server)
      val noDbSrc = GraftConfig.fromYaml(
        "source:\n  connection_uri: mongodb://host:27017\n")
      intercept[IllegalArgumentException] { noDbSrc.sourceMongo }
      val noDbDst = GraftConfig.fromYaml(
        "source:\n  tables_dir: /tmp\ndestination:\n  connection_uri: mongodb://host:27017\n")
      intercept[IllegalArgumentException] { noDbDst.destinationMongo }
    } finally {
      spark.conf.unset("spark.graft.mongodumpCmd")
      spark.conf.unset("spark.graft.mongorestoreCmd")
    }
  }
  test("tool-mode conf validation: a typo'd spark.graft.pgMode fails loudly instead of silently forcing JDBC") {
    val store = tempDir("graft-pgmode-store-").toString
    val conf = tempFile("graft-pgmode-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  connection_uri: postgres://u@localhost/db
         |datastore:
         |  local_disk:
         |    dir: $store
         |""".stripMargin)
    spark.conf.set("spark.graft.pgMode", "tool") // typo: not tools/jdbc
    try {
      val e = intercept[IllegalArgumentException] {
        Cli.run(Seq("-c", conf.toString, "dump", "create", "x"), spark, _ => ())
      }
      assert(e.getMessage.contains("spark.graft.pgMode"), e.getMessage)
      assert(e.getMessage.contains("'tool'"), e.getMessage)
    } finally spark.conf.unset("spark.graft.pgMode")
  }

  test("pg tool restore: COPY-block stream; foreign-dialect stored DDL falls back to synthesized pg DDL (stubbed psql)") {
    val dir = tempDir("graft-pgcopyleg-")
    val store = tempDir("graft-pgcopyleg-store-").toString
    val argsF = dir.resolve("psql.args"); val restoredF = dir.resolve("restored.sql")
    val psqlStub = dir.resolve("psql.sh")
    Files.writeString(psqlStub, s"#!/bin/sh\necho \"$$@\" >> $argsF\ncat >> $restoredF\n")
    psqlStub.toFile.setExecutable(true)
    // a MYSQL-flavored dump (no dialect marker, backticked ENGINE= DDL)
    // stored, then restored into a POSTGRES destination: replaying the
    // stored DDL verbatim would die under ON_ERROR_STOP (ADVICE r17) —
    // the leg must fall back to synthesized pg DDL; and the data must
    // flow as COPY blocks (psql's bulk path), not per-row INSERTs
    val dump = dir.resolve("mysql.sql")
    Files.writeString(dump,
      """CREATE TABLE `users` (`id` int NOT NULL, `note` text) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
        |INSERT INTO `users` (`id`, `note`) VALUES (1,'tab\there');
        |INSERT INTO `users` (`id`, `note`) VALUES (2,NULL);
        |""".stripMargin)
    val conf = tempFile("graft-pgcopyleg-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  tables_dir: /unused
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  connection_uri: postgres://graft@localhost/restdb
         |""".stripMargin)
    spark.conf.set("spark.graft.pgMode", "tools")
    spark.conf.set("spark.graft.psqlCmd", psqlStub.toString)
    try {
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "x-dialect",
        "--file", dump.toString), spark, printed += _) == 0, printed.mkString("\n"))
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "x-dialect"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val restored = Files.readString(restoredF)
      // synthesized pg DDL, NOT the backticked mysql original
      assert(!restored.contains("`"), restored.take(400))
      assert(!restored.contains("ENGINE="), restored.take(400))
      assert(restored.contains("CREATE TABLE IF NOT EXISTS \"public\".\"users\""), restored.take(400))
      // one COPY block per partition, never per-row INSERTs; the
      // mysql-decoded TAB re-encodes per the COPY text format
      assert(restored.contains("COPY \"public\".\"users\" (\"id\", \"note\") FROM stdin;"), restored.take(600))
      assert(!restored.contains("INSERT INTO"), restored.take(600))
      assert(restored.contains("tab\\there"), restored)
      assert(restored.contains("\\N"), restored)
      assert(restored.linesIterator.contains("\\."), restored)
    } finally {
      spark.conf.unset("spark.graft.pgMode")
      spark.conf.unset("spark.graft.psqlCmd")
    }
  }

  test("pg tool restore: stored DDL's own schema is recreated and targeted after the public-only wipe (stubbed psql)") {
    val dir = tempDir("graft-pgschema-")
    val store = tempDir("graft-pgschema-store-").toString
    val restoredF = dir.resolve("restored.sql")
    val psqlStub = dir.resolve("psql.sh")
    Files.writeString(psqlStub, s"#!/bin/sh\ncat >> $restoredF\n")
    psqlStub.toFile.setExecutable(true)
    // a pg dump whose tables live in a NON-public schema: the wipe only
    // drops public, so the leg must CREATE SCHEMA IF NOT EXISTS, clear
    // the table for idempotent re-runs, and stream COPY into app.users
    // (the pre-r18 leg hardcoded public and failed — ADVICE r17)
    val dump = dir.resolve("app.sql")
    Files.writeString(dump,
      """SET standard_conforming_strings = on;
        |CREATE TABLE app.users (id integer, note text);
        |INSERT INTO app.users (id, note) VALUES (1, 'x');
        |""".stripMargin)
    val conf = tempFile("graft-pgschema-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  tables_dir: /unused
         |  database: app
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  connection_uri: postgres://graft@localhost/restdb
         |""".stripMargin)
    spark.conf.set("spark.graft.pgMode", "tools")
    spark.conf.set("spark.graft.psqlCmd", psqlStub.toString)
    try {
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "x-schema",
        "--file", dump.toString), spark, printed += _) == 0, printed.mkString("\n"))
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "x-schema"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val restored = Files.readString(restoredF)
      assert(restored.contains("CREATE SCHEMA IF NOT EXISTS \"app\";"), restored.take(400))
      assert(restored.contains("DROP TABLE IF EXISTS \"app\".\"users\";"), restored.take(400))
      assert(restored.contains("CREATE TABLE app.users"), restored.take(400))
      assert(restored.contains("COPY \"app\".\"users\" (\"id\", \"note\") FROM stdin;"), restored)
    } finally {
      spark.conf.unset("spark.graft.pgMode")
      spark.conf.unset("spark.graft.psqlCmd")
    }
  }

  test("mysql tool restore: pg-qualified stored DDL falls back; special floats restore as NULL (stubbed mysql)") {
    val dir = tempDir("graft-mysqlfallback-")
    val store = tempDir("graft-mysqlfallback-store-").toString
    val restoredF = dir.resolve("restored.sql")
    val mysqlStub = dir.resolve("mysql.sh")
    Files.writeString(mysqlStub, s"#!/bin/sh\ncat >> $restoredF\n")
    mysqlStub.toFile.setExecutable(true)
    // a POSTGRES dump (marker, public-qualified DDL, a bytea column and
    // quoted special floats) restored into a MYSQL destination: the
    // stored DDL must NOT replay (mysql would resolve `public.t` as
    // database `public`, and bytea is not a mysql type — ADVICE r17);
    // NaN/Infinity have no mysql representation and become NULL
    val dump = dir.resolve("pg.sql")
    Files.writeString(dump,
      """SET standard_conforming_strings = on;
        |CREATE TABLE public.m (id integer, v double precision, b bytea);
        |INSERT INTO public.m (id, v, b) VALUES (1, 1.5, '\x41');
        |INSERT INTO public.m (id, v, b) VALUES (2, 'NaN', NULL);
        |INSERT INTO public.m (id, v, b) VALUES (3, 'Infinity', NULL);
        |""".stripMargin)
    val conf = tempFile("graft-mysqlfallback-conf-", ".yaml")
    Files.writeString(conf,
      s"""source:
         |  tables_dir: /unused
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  connection_uri: mysql://graft@localhost/restdb
         |""".stripMargin)
    spark.conf.set("spark.graft.mysqlMode", "tools")
    spark.conf.set("spark.graft.mysqlCmd", mysqlStub.toString)
    try {
      val printed = collection.mutable.Buffer[String]()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "x-mfb",
        "--file", dump.toString), spark, printed += _) == 0, printed.mkString("\n"))
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "x-mfb"),
        spark, printed += _) == 0, printed.mkString("\n"))
      val restored = Files.readString(restoredF)
      // synthesized mysql DDL under the destination database, not the
      // stored pg DDL
      assert(!restored.contains("public.m"), restored.take(500))
      assert(!restored.contains("bytea"), restored.take(500))
      assert(restored.contains("CREATE TABLE IF NOT EXISTS `restdb`.`m`"), restored.take(500))
      // extended INSERT (mysqldump's default shape), one statement
      assert(restored.contains("INSERT INTO `restdb`.`m` (`id`, `v`, `b`) VALUES"), restored)
      // special floats became NULL; the finite value survived
      assert(!restored.contains("NaN") && !restored.contains("Infinity"), restored)
      assert(restored.contains("1.5"), restored)
    } finally {
      spark.conf.unset("spark.graft.mysqlMode")
      spark.conf.unset("spark.graft.mysqlCmd")
    }
  }
  test("mongo source dumps store the TRANSFORMED ARCHIVE: BSON types survive the datastore exactly (stubbed tools)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-mongotyped-")
    // a TYPED collection — date, binary, decimal, array, nested doc —
    // the shapes the old SQL-statement intermediate degraded to text
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("joined", TimestampType, nullable = true),
      StructField("avatar", BinaryType, nullable = true),
      StructField("bal", DecimalType(10, 2), nullable = true),
      StructField("tags", ArrayType(StringType), nullable = true),
      StructField("addr", StructType(Seq(
        StructField("city", StringType), StructField("zip", LongType))), nullable = true)))
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    val rows = Seq(
      Row(1L, "adaline", ts, Array[Byte](1, 0, -1), new java.math.BigDecimal("12.34"),
        Seq("a", "b"), Row("Paris", 75001L)),
      Row(2L, "bobbert", null, null, null, null, null))
    val users = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val bos = new java.io.ByteArrayOutputStream()
    graft.ingest.MongoArchive.writeTables(bos, "livedb", Seq("users" -> users))
    val archivePath = dir.resolve("dump.archive")
    Files.write(archivePath, bos.toByteArray)
    val restoredF = dir.resolve("restored.bin")
    val dumpStub = dir.resolve("mongodump.sh")
    Files.writeString(dumpStub, s"#!/bin/sh\ncat $archivePath\n")
    val restStub = dir.resolve("mongorestore.sh")
    Files.writeString(restStub, s"#!/bin/sh\ncat > $restoredF\n")
    Seq(dumpStub, restStub).foreach(_.toFile.setExecutable(true))
    val store = tempDir("graft-mongotyped-store-").toString
    val parquetOut = tempDir("graft-mongotyped-out-").toString
    def conf(dest: String): String = {
      val f = tempFile("graft-mongotyped-conf-", ".yaml")
      Files.writeString(f,
        s"""source:
           |  connection_uri: mongodb://localhost:27017/livedb
           |  transformers:
           |    - table: users
           |      columns:
           |        - name: name
           |          transformer_name: redacted
           |datastore:
           |  local_disk:
           |    dir: $store
           |encryption_key: mongo-typed-key
           |$dest
           |""".stripMargin)
      f.toString
    }
    val mongoConf = conf("destination:\n  connection_uri: mongodb://otherhost:27017/livedb")
    spark.conf.set("spark.graft.mongodumpCmd", dumpStub.toString)
    spark.conf.set("spark.graft.mongorestoreCmd", restStub.toString)
    val printed = collection.mutable.Buffer[String]()
    try {
      assert(Cli.run(Seq("-c", mongoConf, "dump", "create", "mongo-typed"), spark,
        printed += _) == 0, printed.mkString("\n"))
      // the datastore holds an ARCHIVE blob, not SQL statements
      val ds = new graft.store.Datastore(store, spark)
      assert(ds.catalogOps.byName("mongo-typed").flatMap(_.format)
        .contains("mongo-archive"))
      // restore to a mongo destination: the stored (transformed)
      // archive streams through BYTE-EXACTLY — decode it and check
      // every BSON-typed value survived, with the mask applied
      assert(Cli.run(Seq("-c", mongoConf, "dump", "restore", "mongo-typed"), spark,
        printed += _) == 0, printed.mkString("\n"))
      val back = graft.ingest.MongoArchive.read(Files.readAllBytes(restoredF))
      val restoredUsers = graft.ingest.MongoArchive.restore(spark, back)("livedb.users")
      val s2 = restoredUsers.schema
      def dt(n: String) = s2.fields(s2.fieldIndex(n)).dataType
      assert(dt("joined") == TimestampType, s2.treeString)
      assert(dt("avatar") == BinaryType, s2.treeString)
      assert(dt("bal").isInstanceOf[DecimalType], s2.treeString)
      assert(dt("tags").isInstanceOf[ArrayType], s2.treeString)
      assert(dt("addr").isInstanceOf[StructType], s2.treeString)
      val r1 = restoredUsers.filter(restoredUsers("id") === 1L).collect().head
      assert(r1.getAs[java.sql.Timestamp]("joined") == ts)
      assert(r1.getAs[Array[Byte]]("avatar").toSeq == Seq[Byte](1, 0, -1))
      assert(r1.getAs[java.math.BigDecimal]("bal").compareTo(
        new java.math.BigDecimal("12.34")) == 0)
      assert(r1.getSeq[String](r1.fieldIndex("tags")) == Seq("a", "b"))
      assert(r1.getAs[Row]("addr").getAs[String]("city") == "Paris")
      assert(r1.getAs[String]("name") != "adaline", "mask not applied")
      // restore the SAME stored dump to a parquet destination: the
      // archive decodes into typed frames (spool -> distributed decode)
      printed.clear()
      val pqConf = conf(s"destination:\n  output_dir: $parquetOut")
      assert(Cli.run(Seq("-c", pqConf, "dump", "restore", "mongo-typed"), spark,
        printed += _) == 0, printed.mkString("\n"))
      val pq = spark.read.parquet(s"$parquetOut/users")
      assert(pq.schema.fields(pq.schema.fieldIndex("joined")).dataType == TimestampType)
      assert(pq.schema.fields(pq.schema.fieldIndex("addr")).dataType.isInstanceOf[StructType])
      assert(pq.count() == 2)
      // the lazy-read restore spool was eagerly deleted after the write
      val spoolDir = new java.io.File(s"$store/.spool")
      assert(!spoolDir.exists() || spoolDir.listFiles().isEmpty,
        "archive-restore spool left behind")
    } finally {
      spark.conf.unset("spark.graft.mongodumpCmd")
      spark.conf.unset("spark.graft.mongorestoreCmd")
    }
  }
  test("mongo source: subset + passthrough apply before the archive is stored (stubbed tools)") {
    import spark.implicits._
    val dir = tempDir("graft-mongosubset-")
    val users = (1L to 40L).map(i => (i, s"user-$i")).toDF("id", "name")
    val events = (1L to 7L).map(i => (i, "evt")).toDF("event_id", "kind")
    val bos = new java.io.ByteArrayOutputStream()
    graft.ingest.MongoArchive.writeTables(bos, "livedb",
      Seq("events" -> events, "users" -> users))
    val archivePath = dir.resolve("dump.archive")
    Files.write(archivePath, bos.toByteArray)
    val dumpStub = dir.resolve("mongodump.sh")
    Files.writeString(dumpStub, s"#!/bin/sh\ncat $archivePath\n")
    dumpStub.toFile.setExecutable(true)
    val store = tempDir("graft-mongosubset-store-").toString
    val outDir = tempDir("graft-mongosubset-out-").toString
    val conf = tempFile("graft-mongosubset-conf-", ".yaml")
    // reference subset semantics through the ARCHIVE store path: the
    // seed collection samples at percent, passthrough copies whole,
    // everything else contributes zero rows (r17 dumpPlan fix)
    Files.writeString(conf,
      s"""source:
         |  connection_uri: mongodb://localhost:27017/livedb
         |subset:
         |  table: users
         |  seed_key: id
         |  percent: 50
         |  passthrough_tables: [events]
         |datastore:
         |  local_disk:
         |    dir: $store
         |destination:
         |  output_dir: $outDir
         |""".stripMargin)
    spark.conf.set("spark.graft.mongodumpCmd", dumpStub.toString)
    val printed = collection.mutable.Buffer[String]()
    try {
      assert(Cli.run(Seq("-c", conf.toString, "dump", "create", "mongo-subset"), spark,
        printed += _) == 0, printed.mkString("\n"))
      assert(new graft.store.Datastore(store, spark).catalogOps
        .byName("mongo-subset").flatMap(_.format).contains("mongo-archive"))
      printed.clear()
      assert(Cli.run(Seq("-c", conf.toString, "dump", "restore", "mongo-subset"), spark,
        printed += _) == 0, printed.mkString("\n"))
      val subsetUsers = spark.read.parquet(s"$outDir/users")
      val n = subsetUsers.count()
      assert(n > 0 && n < 40, s"expected a strict user subset, got $n/40")
      assert(spark.read.parquet(s"$outDir/events").count() == 7)
    } finally spark.conf.unset("spark.graft.mongodumpCmd")
  }

  test("spoolChunkMb: 2 GB+ clamps instead of overflowing Int; non-positive values are rejected (ADVICE r19)") {
    try {
      // 4096 MB used to overflow to a negative Int, making the spool
      // roll on every byte (one part per statement)
      spark.conf.set("spark.graft.spoolChunkMb", "4096")
      assert(Cli.spoolChunkBytes(spark) == Int.MaxValue)
      spark.conf.set("spark.graft.spoolChunkMb", "0.25")
      assert(Cli.spoolChunkBytes(spark) == 256 * 1024)
      spark.conf.set("spark.graft.spoolChunkMb", "0")
      intercept[IllegalArgumentException](Cli.spoolChunkBytes(spark))
      spark.conf.set("spark.graft.spoolChunkMb", "-3")
      intercept[IllegalArgumentException](Cli.spoolChunkBytes(spark))
    } finally spark.conf.unset("spark.graft.spoolChunkMb")
  }
}
