package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.model.{SourceFilters, TableRef, TransformerBinding}
import graft.pipeline.Pipeline
import graft.store.Datastore

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def load(t: String) = Tables.load(spark, sfDir, t)

  /** Run an AvailableNow query to completion and STOP it: poll until
    * the query has committed at least one batch and gone idle — no
    * unprocessed source data, no trigger mid-flight — then stop the
    * IDLE query, so no live micro-batch is killed at session teardown.
    */
  private def runToTermination(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (q.isActive && System.nanoTime() < deadline &&
        (q.recentProgress.isEmpty || q.status.isDataAvailable || q.status.isTriggerActive))
      Thread.sleep(50)
    q.stop()
    q.awaitTermination(120000)
  }

  override def afterAll(): Unit = {
    // belt-and-braces for the same teardown race: no active streaming
    // query may outlive this suite
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    super.afterAll()
  }

  test("selectTables: skip and only are honored; a table in both is refused") {
    val all = Seq("customer", "orders", "nation")
    assert(Pipeline.selectTables(all, "public",
      SourceFilters(skipTables = Seq(TableRef("public", "orders")))) == Seq("customer", "nation"))
    assert(Pipeline.selectTables(all, "public",
      SourceFilters(onlyTables = Seq(TableRef("public", "customer")))) == Seq("customer"))
    // reference parity (commands/dump.rs:115-128): DISJOINT lists may
    // coexist — skip removes, only restricts
    assert(Pipeline.selectTables(all, "public",
      SourceFilters(
        skipTables = Seq(TableRef("public", "orders")),
        onlyTables = Seq(TableRef("public", "customer"), TableRef("public", "nation"))))
      == Seq("customer", "nation"))
    // …but the SAME table in both is a config contradiction, refused
    // loudly with the conflicting table named, never silently intersected
    val e = intercept[IllegalArgumentException] {
      SourceFilters(
        skipTables = Seq(TableRef("public", "orders"), TableRef("public", "a")),
        onlyTables = Seq(TableRef("public", "orders")))
    }
    assert(e.getMessage.contains("\"public.orders\""))
    assert(e.getMessage.contains("cannot be both"))
  }

  test("dump → restore end-to-end roundtrip with transformer and skip") {
    val dir = tempDir("graft-e2e").toString
    val store = new Datastore(s"file://$dir", spark)
    val config = Pipeline.DumpJobConfig(
      tables = Seq("customer", "nation"),
      filters = SourceFilters(skipTables = Seq(TableRef("public", "nation"))),
      bindings = Seq(TransformerBinding("public", "customer", "c_name", "email")),
      encryptionKey = Some("test-key"))
    Pipeline.dump(spark, load, store, "dump-e2e", config)

    Pipeline.restore(store, "dump-e2e", Some("test-key")) { (restored, _) =>
      // skipped table is absent (reference source/postgres.rs:757-810)
      assert(restored.keySet == Set("customer"))
      val cust = restored("customer")
      assert(cust.count() == load("customer").count())
      // transformed column differs for every row, others intact
      val joined = load("customer").alias("a")
        .join(cust.alias("b"), $"a.c_custkey" === $"b.c_custkey")
      assert(joined.filter($"a.c_name" === $"b.c_name").count() == 0)
      assert(joined.filter($"b.c_name".endsWith("@example.com")).count() == cust.count())
      assert(joined.filter($"a.c_mktsegment" =!= $"b.c_mktsegment").count() == 0)
    }
  }

  test("restore parses a headerless chunk as pg: a trailing backslash keeps its row, a quoted ; stays in its value") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-dialect-e2e").toString
    val store = new Datastore(s"file://$dir", spark)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val values = Seq("x\\", "a; b", "plain")
    // one partition: the table's INSERTs land in a chunk of their own,
    // after the chunk that carries the dialect header
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      values.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 1), schema)
    Pipeline.dump(spark, (_: String) => df, store, "dialect-dump",
      Pipeline.DumpJobConfig(tables = Seq("t")))
    val chunks = new java.io.File(s"$dir/dialect-dump").listFiles().count(_.getName.endsWith(".dump"))
    assert(chunks >= 2, s"expected a headerless data chunk, got $chunks chunk(s)")
    val inserts = store.read("dialect-dump").collect().filter(_.startsWith("INSERT"))
    assert(inserts.length == 3, inserts.toSeq)
    val back = Pipeline.restore(store, "dialect-dump") { (t, _) =>
      t("t").collect().map(r => r.getLong(r.fieldIndex("id")) -> r.getString(r.fieldIndex("v")))
    }
    assert(back.sortBy(_._1).toSeq == values.indices.map(_.toLong).zip(values))
  }

  test("streaming: watermarked dedup drops in-horizon duplicates, matches batch J3 counts") {
    import graft.streaming.StreamingPipeline
    val inDir = tempDir("graft-dedup-in").toString
    val outDir = tempDir("graft-dedup-out").toString + "/out"
    val ckpt = tempDir("graft-dedup-ckpt").toString + "/ckpt"
    // duplicated doc payloads with event-time: each text appears 1-3
    // times within minutes of the first copy (inside the horizon)
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = (0 until 300).map { i =>
      (i.toLong, s"text-${i % 100}", new java.sql.Timestamp(base.getTime + i * 60000L))
    }
    rows.toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(inDir)
    val in = spark.readStream
      .schema(spark.read.parquet(inDir).schema).parquet(inDir)
    val deduped = StreamingPipeline.dedupStream(in, Seq("text"), "ts", "6 hours")
    assert(deduped.isStreaming)
    runToTermination(StreamingPipeline.sink(deduped, outDir, ckpt, Trigger.AvailableNow()).start())
    val streamed = spark.read.parquet(outDir)
    assert(streamed.count() == 100)
    assert(streamed.select("text").distinct().count() == 100)
  }

  test("streaming: JSONL watched-dir admission is exactly-once across availableNow restarts") {
    import graft.streaming.StreamingPipeline
    import graft.ingest.Jsonl
    import org.apache.spark.sql.types._
    val inDir = tempDir("graft-jsonl-in").toString
    val outDir = tempDir("graft-jsonl-out").toString + "/out"
    val ckpt = tempDir("graft-jsonl-ckpt").toString + "/ckpt"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val corpus = Seq((1L, "already ingested"), (2L, "also known")).toDF("doc_id", "text")
    def jline(id: Long, text: String): String =
      s"""{"doc_id": $id, "text": "$text", "ts": "2026-01-01T00:00:00.000Z"}"""
    def ingestPass(lines: Seq[String], file: String): Set[Long] = {
      Files.writeString(java.nio.file.Paths.get(inDir, file),
        lines.mkString("", "\n", "\n"))
      val admitted = StreamingPipeline.admitStream(
        Jsonl.readStream(spark, inDir, schema), corpus, $"text", "ts", "6 hours")
      runToTermination(StreamingPipeline.sink(admitted, outDir, ckpt, Trigger.AvailableNow()).start())
      spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    }
    // pass 1: doc 2's text is a corpus dup, 3 and 4 are fresh
    val got1 = ingestPass(Seq(
      jline(102L, "also known"), jline(103L, "fresh three"), jline(104L, "fresh four")),
      "batch1.json")
    assert(got1 == Set(103L, 104L), s"pass 1 admitted $got1")
    // pass 2, SAME checkpoint: batch1's file is not reprocessed, the
    // in-stream fingerprint state survived the restart (doc 103's text
    // again → dropped), only 105 is new
    val got2 = ingestPass(Seq(
      jline(203L, "fresh three"), jline(105L, "fresh five")),
      "batch2.json")
    assert(got2 == Set(103L, 104L, 105L), s"pass 2 total admitted $got2")
  }

  test("streaming: continuous-trigger incremental admission lands two JSONL drops in one running query") {
    import graft.pipeline.CorpusPipeline
    val root = tempDir("graft-cont-").toString
    val outDir = s"$root/corpus"
    val watch = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(watch))
    Seq((1L, "seed text one of the corpus"), (2L, "seed text two of the corpus"))
      .toDF("doc_id", "text").write.parquet(outDir)
    val confPath = s"$root/c.yaml"
    Files.writeString(java.nio.file.Paths.get(confPath),
      s"input_dir: $watch\noutput_dir: $outDir\ncheckpoint_dir: $root/ckpt\n" +
        "stages:\n  - kind: dedup_exact\n")
    def jline(id: Long, text: String): String =
      s"""{"doc_id": $id, "text": "$text", "ts": "2026-01-01T00:00:00.000Z"}"""
    def ids(): Set[Long] =
      spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    def awaitIds(want: Set[Long], what: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (ids() != want && System.nanoTime() < deadline) Thread.sleep(200)
      assert(ids() == want, s"$what: got ${ids()} want $want")
    }
    // the watcher mode the CLI exposes as `--continuous`: ONE running
    // query, multiple drops — no restart between them
    val q = CorpusPipeline.startStreamIncremental(spark,
      CorpusPipeline.load(confPath), outDir, s"$root/ckpt", _ => (),
      Trigger.ProcessingTime("250 milliseconds"))
    try {
      // drop 1: 101 fresh, 102 exact-dups the seed corpus
      Files.writeString(java.nio.file.Paths.get(watch, "d1.json"),
        Seq(jline(101L, "first drop fresh text"),
          jline(102L, "seed text one of the corpus")).mkString("", "\n", "\n"))
      awaitIds(Set(1L, 2L, 101L), "first drop")
      assert(q.isActive, "query stopped after the first drop")
      // drop 2 into the SAME running query: 202 exact-dups a row the
      // FIRST drop admitted — the artifact extension happened inside
      // the live query — 201 is fresh
      Files.writeString(java.nio.file.Paths.get(watch, "d2.json"),
        Seq(jline(201L, "second drop fresh text"),
          jline(202L, "first drop fresh text")).mkString("", "\n", "\n"))
      awaitIds(Set(1L, 2L, 101L, 201L), "second drop")
      assert(q.isActive, "query stopped after the second drop")
    } finally {
      q.stop()
      q.awaitTermination()
    }
  }

  test("streaming: corpus admission drops known fingerprints and in-stream dups") {
    import graft.streaming.StreamingPipeline
    val inDir = tempDir("graft-admit-in").toString
    val outDir = tempDir("graft-admit-out").toString + "/out"
    val ckpt = tempDir("graft-admit-ckpt").toString + "/ckpt"
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // corpus knows texts 0..49 (whitespace-normalized forms)
    val corpus = (0 until 50).map(i => (i.toLong, s"known  TEXT-$i")).toDF("doc_id", "text")
    // stream: 0..79, each twice → 0..49 are corpus dups, 50..79 fresh-once
    val rows = (0 until 160).map { i =>
      (1000L + i, s"known text-${i % 80}", new java.sql.Timestamp(base.getTime + i * 60000L))
    }
    rows.toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(inDir)
    val in = spark.readStream
      .schema(spark.read.parquet(inDir).schema).parquet(inDir)
    val admitted = StreamingPipeline.admitStream(in, corpus, $"text", "ts", "6 hours")
    assert(admitted.isStreaming)
    runToTermination(StreamingPipeline.sink(admitted, outDir, ckpt, Trigger.AvailableNow()).start())
    val got = spark.read.parquet(outDir)
    assert(got.count() == 30, s"expected 30 fresh docs, got ${got.count()}")
    val freshTexts = got.select("text").as[String].collect().toSet
    assert(freshTexts.forall(t => (50 until 80).exists(i => t.endsWith(s"-$i"))))
  }

  test("dump -> restore preserves binary and nested columns as canonical text (pg hex / JSON), never JVM toString") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-bin-e2e").toString
    val store = new Datastore(s"file://$dir", spark)
    // the JDBC/Mongo source shape: a binary column (bytea/BLOB/BinData)
    // and a Mongo-inferred nested array — the raw row stringifier
    // rendered these as `[B@1a2b3c` / `WrappedArray(..)` garbage
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("tags", ArrayType(StringType), nullable = true)))
    val rows = Seq(
      Row(1L, Array[Byte](0x41, 0x00, 0xff.toByte), Seq("a", "b")),
      Row(2L, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val config = Pipeline.DumpJobConfig(tables = Seq("blobby"))
    Pipeline.dump(spark, (_: String) => df, store, "bin-dump", config)
    // the stored dump carries a SYNTHESIZED bytea DDL (no source DDL,
    // binary column present) so a live restore regains true bytea
    val storedText = store.read("bin-dump").collect().mkString("\n")
    assert(storedText.contains("bytea"), storedText.take(500))
    assert(storedText.contains("'\\x4100ff'"), storedText.take(500))
    assert(!storedText.contains("[B@"), storedText.take(500))
    assert(storedText.contains("[\"a\",\"b\"]"), storedText.take(500))
    val back = Pipeline.restore(store, "bin-dump")((t, _) => t("blobby").collect())
    val byId = back.map(r => r.getLong(r.fieldIndex("id")) ->
      (r.get(r.fieldIndex("payload")), r.get(r.fieldIndex("tags")))).toMap
    assert(byId(1L) == (("\\x4100ff", "[\"a\",\"b\"]")), byId)
    assert(byId(2L) == ((null, null)), byId)
  }

  test("a dump's header and DDL store as one part, and restore reads them back") {
    val dir = tempDir("graft-header-part").toString
    val store = new Datastore(s"file://$dir", spark)
    val tables = Seq("customer", "nation", "region")
    Pipeline.dump(spark, load, store, "header-part",
      Pipeline.DumpJobConfig(tables = tables, encryptionKey = Some("k")))
    val parts = new java.io.File(s"$dir/header-part").listFiles()
      .filter(_.getName.endsWith(".dump")).map { f =>
        val text = new String(graft.store.Codecs.decode(
          Files.readAllBytes(f.toPath), compressed = true, Some("k")), "UTF-8")
        f.getName -> text.linesIterator.toSeq
      }
    val withDdl = parts.filter(_._2.exists(l => l.startsWith("SET ") || l.startsWith("CREATE TABLE")))
    assert(withDdl.length == 1, parts.map(p => p._1 -> p._2.size).toSeq)
    val ddl = withDdl.head._2
    assert(ddl.head == "SET standard_conforming_strings = on;")
    assert(ddl.count(_.startsWith("CREATE TABLE")) == tables.size, ddl)
    Pipeline.restore(store, "header-part", Some("k")) { (restored, storedDdl) =>
      assert(storedDdl.keySet == tables.toSet)
      tables.foreach(t => assert(restored(t).count() == load(t).count(), t))
    }
  }

  test("universal ride-along DDL (r19): restored types are SOURCE-exact, not re-inferred") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-typed-e2e").toString
    val store = new Datastore(s"file://$dir", spark)
    // the two cases inference gets WRONG: a decimal column (inference
    // re-reads the rendered literal as double) and a text column whose
    // values happen to be digit strings (inference widens to bigint)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("price", DecimalType(10, 2), nullable = true),
      StructField("zip", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, new java.math.BigDecimal("12.50"), "02134"),
        Row(2L, new java.math.BigDecimal("99.99"), "90210")), 2), schema)
    Pipeline.dump(spark, (_: String) => df, store, "typed-dump",
      Pipeline.DumpJobConfig(tables = Seq("prices")))
    val (restoredSchema, collected) = Pipeline.restore(store, "typed-dump") { (t, _) =>
      (t("prices").schema, t("prices").collect())
    }
    val types = restoredSchema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("price") == DecimalType(10, 2), types)
    assert(types("zip") == StringType, types)
    val rows = collected.map(r => r.getLong(r.fieldIndex("id")) ->
      (r.getDecimal(r.fieldIndex("price")).toPlainString,
        r.getString(r.fieldIndex("zip")))).toMap
    assert(rows(1L) == (("12.50", "02134")), rows)
    // leading zero preserved — the bigint widening would have eaten it
    assert(rows(2L) == (("99.99", "90210")), rows)
  }

  test("synthesized ride-along DDL is UNQUALIFIED: the source database name is not a destination namespace (ADVICE r18)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-ddl-ns").toString
    val store = new Datastore(s"file://$dir", spark)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Array[Byte](0x01))), 1), schema)
    // a pg JDBC source configured with database "mydb": the synthesized
    // DDL must NOT qualify with it — a live pg restore would otherwise
    // CREATE SCHEMA mydb and land the table there instead of public
    val config = Pipeline.DumpJobConfig(tables = Seq("blobby"), database = "mydb")
    Pipeline.dump(spark, (_: String) => df, store, "ns-dump", config)
    val ddl = store.read("ns-dump").collect()
      .filter(_.toUpperCase.startsWith("CREATE TABLE"))
    assert(ddl.length == 1, ddl.toSeq)
    assert(ddl.head.startsWith("CREATE TABLE IF NOT EXISTS \"blobby\""), ddl.head)
    assert(!ddl.head.contains("mydb"), ddl.head)
    // DDL that actually CAME from the source keeps its own namespace
    val srcDdl = "CREATE TABLE mydb.blobby (id bigint, payload bytea);"
    Pipeline.dump(spark, (_: String) => df, store, "ns-dump-src",
      config.copy(ddl = Map("blobby" -> srcDdl)))
    val kept = store.read("ns-dump-src").collect()
      .filter(_.toUpperCase.startsWith("CREATE TABLE"))
    assert(kept.toSeq == Seq(srcDdl))
  }
}
