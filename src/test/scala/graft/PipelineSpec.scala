package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.{SourceFilters, TableRef, TransformerBinding}
import graft.pipeline.Pipeline
import graft.store.Datastore

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def load(t: String) = Tables.load(spark, sfDir, t)

  /** Run an AvailableNow query to completion and STOP it. A bare
    * `awaitTermination(timeout)` is wrong for queries with
    * processing-time timers (the TTL suppression stream): AvailableNow
    * consumes the available offsets but the pending timers keep the
    * query alive, so the await burns its full timeout and the query
    * outlives the test — to be killed mid-batch at session teardown,
    * which is exactly the ERROR-log race this helper exists to avoid.
    * (`processAllAvailable` is no better: on that timer-idle query its
    * no-new-data signal never fires and it blocks forever.) So: poll
    * until the query has committed at least one batch and gone idle —
    * no unprocessed source data, no trigger mid-flight — then stop the
    * IDLE query, which tears down without touching a live micro-batch.
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

  test("streaming: availableNow transform matches the batch transformer") {
    import graft.streaming.StreamingPipeline
    val inDir = tempDir("graft-stream-in").toString
    val outDir = tempDir("graft-stream-out").toString + "/out"
    val ckpt = tempDir("graft-stream-ckpt").toString + "/ckpt"
    val cust = load("customer")
    cust.write.mode("overwrite").parquet(inDir)
    val bindings = Seq(TransformerBinding("public", "customer", "c_name", "email"))
    val stream = StreamingPipeline.transformStream(spark, inDir, cust.schema, bindings)
    assert(stream.isStreaming)
    runToTermination(StreamingPipeline.sinkAvailableNow(stream, outDir, ckpt).start())
    val streamed = spark.read.parquet(outDir)
    val batch = graft.transform.Transformers.applyBindings(cust, bindings)
    assert(streamed.count() == batch.count())
    assert(streamed.join(batch, Seq("c_custkey"), "left_anti").count() == 0)
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
    runToTermination(StreamingPipeline.sinkAvailableNow(deduped, outDir, ckpt).start())
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
      runToTermination(StreamingPipeline.sinkAvailableNow(admitted, outDir, ckpt).start())
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
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
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
    runToTermination(StreamingPipeline.sinkAvailableNow(admitted, outDir, ckpt).start())
    val got = spark.read.parquet(outDir)
    assert(got.count() == 30, s"expected 30 fresh docs, got ${got.count()}")
    val freshTexts = got.select("text").as[String].collect().toSet
    assert(freshTexts.forall(t => (50 until 80).exists(i => t.endsWith(s"-$i"))))
  }

  test("streaming: simhash suppression leaves no near-dup pair among survivors") {
    import graft.streaming.StreamingPipeline
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val survivors = StreamingPipeline.nearDupSuppressStream(docs, "doc_id", $"text", 8)
      .toDF("doc_id", "sh")
    val kept = survivors.count()
    assert(kept > 0 && kept < docs.count(), "testdata should contain near-dups to suppress")
    // THE invariant (order-independent even though greedy survivor
    // choice isn't): survivors contain no bucket-colliding pair within
    // the Hamming threshold — the batch operator is the oracle
    val keptDocs = docs.join(survivors.select("doc_id"), "doc_id")
    assert(graft.ops.Dedup.simhashPairs(keptDocs, "doc_id", $"text", 8).isEmpty,
      "suppression let a near-dup pair through")
    // exact duplicates (distance 0) always collapse to one survivor
    val dup = Seq((1L, "same text here"), (2L, "same text here"),
      (3L, "same text here"), (4L, "another completely different payload"))
      .toDF("doc_id", "text")
    assert(StreamingPipeline.nearDupSuppressStream(dup, "doc_id", $"text", 0).count() == 2)
    // the streaming form runs end-to-end and upholds the same invariant
    val inDir = tempDir("graft-neardup-in").toString
    docs.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(docs.schema).parquet(inDir)
    val out = StreamingPipeline.nearDupSuppressStream(stream, "doc_id", $"text", 8)
    assert(out.isStreaming)
    runToTermination(out.toDF("doc_id", "sh").writeStream.format("memory")
      .queryName("neardup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())
    val streamedKept = docs.join(spark.table("neardup_test").select("doc_id"), "doc_id")
    assert(spark.table("neardup_test").count() > 0)
    assert(graft.ops.Dedup.simhashPairs(streamedKept, "doc_id", $"text", 8).isEmpty)
  }

  test("streaming: suppression TTL expires cold buckets and re-admits docs; bad ids fail loudly") {
    import graft.streaming.StreamingPipeline
    // non-numeric id: loud failure, not a silently emptied stream
    val badIds = Seq(("doc42", "some text here")).toDF("doc_id", "text")
    val err = intercept[Exception] {
      StreamingPipeline.nearDupSuppressStream(badIds, "doc_id", $"text", 8).count()
    }
    assert(err.getMessage != null || err.getCause != null) // raised, not empty result

    // TTL: one checkpoint, three availableNow passes. Doc 1 survives;
    // after the TTL a batch on an UNRELATED bucket fires the timeout
    // (groups with fresh data are exempt that batch), then doc 3 — an
    // exact dup of doc 1 — is re-admitted because the bucket expired.
    // the parquet sink supports checkpoint recovery (memory sink does
    // not), so survivors accumulate in outDir across the three passes
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def runPass(inDir: String, ckpt: String, outDir: String, ttlMs: Long,
                rows: Seq[(Long, String)]): Set[Long] = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(inDir)
      val src = spark.readStream.schema(schema).parquet(inDir)
      // NOT AvailableNow: with processing-time timers armed, AvailableNow
      // fires continuous no-data timer batches (~2/s), so any stop() can
      // interrupt one mid-commit and log an abort stack. A long
      // processing-time trigger processes everything in batch 1, then
      // idles for 30 s — runToTermination's idle-detected stop() lands in
      // that gap deterministically. Timer cleanup still happens: the NEXT
      // pass's data batch fires expired timers, which is what this test
      // asserts.
      runToTermination(StreamingPipeline.nearDupSuppressStream(src, "doc_id", $"text",
          maxDistance = 0, idleBucketTtlMs = ttlMs)
        .toDF("doc_id", "sh").writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("30 seconds"))
        .start())
      spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    }
    val payload = "the quick brown fox jumps over the lazy dog"
    val (in1, ck1, out1) = (tempDir("graft-ttl-in").toString,
      tempDir("graft-ttl-ck").toString + "/ck",
      tempDir("graft-ttl-out").toString + "/out")
    // Short TTL + poll-until-readmitted instead of fixed sleeps: each
    // attempt waits out the TTL, fires timeouts with a batch on an
    // unrelated bucket, then offers a FRESH dup id in doc 1's bucket.
    // A loaded host just takes more attempts; a quiet one passes on the
    // first (r6 verdict flagged the old 2 s-TTL/4 s-sleep version as
    // wall-clock-flaky).
    val ttlMs = 500L
    assert(runPass(in1, ck1, out1, ttlMs, Seq((1L, payload))) == Set(1L))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var attempt = 0
    var readmitted = false
    while (!readmitted && System.nanoTime() < deadline) {
      attempt += 1
      Thread.sleep(ttlMs + 500L)
      // a batch on an unrelated bucket fires expired-group timeouts
      runPass(in1, ck1, out1, ttlMs, Seq((100L + attempt, s"unrelated payload number $attempt")))
      val dupId = 1000L + attempt // same text as doc 1 → same bucket
      readmitted = runPass(in1, ck1, out1, ttlMs, Seq((dupId, payload))).contains(dupId)
    }
    assert(readmitted,
      s"a duplicate of doc 1 should be re-admitted after its bucket's TTL expired ($attempt attempts)")
    // control: WITHOUT a TTL the same replay suppresses the dup forever
    val (in2, ck2, out2) = (tempDir("graft-nottl-in").toString,
      tempDir("graft-nottl-ck").toString + "/ck",
      tempDir("graft-nottl-out").toString + "/out")
    runPass(in2, ck2, out2, 0L, Seq((1L, payload)))
    Thread.sleep(1000)
    runPass(in2, ck2, out2, 0L, Seq((2L, "a completely different unrelated payload")))
    val ids2 = runPass(in2, ck2, out2, 0L, Seq((3L, payload)))
    assert(!ids2.contains(3L), "without a TTL the duplicate must stay suppressed")
  }

  test("streaming: session windows over a stream match the batch sessionization") {
    import graft.streaming.StreamingPipeline
    val inDir = tempDir("graft-sess-in").toString
    val events = Tables.events(spark, sfDir).select($"user_id", $"ts")
    events.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(events.schema).parquet(inDir)
    val sessions = StreamingPipeline.sessionCounts(stream, "6 hours", "0 seconds")
    assert(sessions.isStreaming)
    // session-window streaming aggs support append (watermark-gated
    // emission) and complete; complete emits every session per batch,
    // which is what a bounded parity test needs
    runToTermination(sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())
    val streamed = spark.table("sess_test")
    val batch = StreamingPipeline.sessionCounts(events, "6 hours")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming: interval join matches the batch theta-join over a bounded replay") {
    import graft.streaming.StreamingPipeline
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("purchase_id"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id".as("view_id"))
    val (pDir, vDir) = (tempDir("graft-ij-p").toString,
      tempDir("graft-ij-v").toString)
    purchases.write.mode("overwrite").parquet(pDir)
    views.write.mode("overwrite").parquet(vDir)
    val pStream = spark.readStream.schema(purchases.schema).parquet(pDir)
    val vStream = spark.readStream.schema(views.schema).parquet(vDir)
    val joined = StreamingPipeline.intervalJoinStream(pStream, vStream, "user_id",
        lookback = "30 minutes", watermark = "1 hour")
      .select($"purchase_id", $"view_id")
    assert(joined.isStreaming)
    runToTermination(joined.writeStream.format("memory").queryName("ij_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())
    val streamed = spark.table("ij_test")
    val batch = StreamingPipeline.intervalJoinStream(purchases, views, "user_id",
        lookback = "30 minutes")
      .select($"purchase_id", $"view_id")
    assert(streamed.count() > 0, "interval join emitted nothing")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming: mapGroupsWithState running progress matches batch groupBy") {
    import graft.streaming.StreamingPipeline
    val events = Tables.events(spark, sfDir)
    val stateful = StreamingPipeline.progressByUser(events).toDF()
    val batch = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum(coalesce($"value", lit(0.0))).as("total_value"))
    val joined = stateful.as("s").join(batch.as("b"), Seq("user_id"))
    assert(stateful.count() == batch.count())
    assert(joined.filter($"s.n_events" =!= $"b.n_events").count() == 0)
    // double-sum fold order differs between keyed-state iteration and
    // hash-aggregate partials — equal up to fp reassociation
    assert(joined.filter(abs($"s.total_value" - $"b.total_value") > 1e-6).count() == 0)

    // and as a real stream: update-mode memory sink over the same rows
    val inDir = tempDir("graft-state-in").toString
    events.select("user_id", "value").write.mode("overwrite").parquet(inDir)
    val src = spark.readStream
      .schema(events.select("user_id", "value").schema).parquet(inDir)
    val q = StreamingPipeline.progressByUser(src).writeStream
      .format("memory").queryName("progress_state").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    runToTermination(q)
    val last = spark.table("progress_state")
      .groupBy($"user_id").agg(max($"n_events").as("n_events"))
    assert(last.join(batch, Seq("user_id"))
      .filter(last("n_events") =!= batch("n_events")).count() == 0)
  }

  test("streaming: watermarked windowed event counts plan is valid") {
    import graft.streaming.StreamingPipeline
    // batch DataFrame through the same aggregation validates the logic
    val events = Tables.events(spark, sfDir)
    val counts = StreamingPipeline.eventCounts(events)
    val total = counts.agg(sum("n_events")).as[Long].head()
    assert(total == events.count())
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
