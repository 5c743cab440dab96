package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.{Cli, GraftSession, Tables}
import graft.config.GraftConfig
import graft.ingest.{DumpReader, DumpSink, PgLive}
import graft.model.StatementKind
import graft.store.{Codecs, Datastore}
import graft.subset.Subset
import graft.transform.Transformers

/** Runs one workload through graft's public `Cli.run` in one JVM at
  * `local[4]` and writes what it measured to `<work>/result.json`.
  *
  *   Harness <workload> <seconds> <trace 0|1> <work dir> <encryption key>
  *
  * The inputs are already under `<work>/inputs/{warm,main}`. Set-up is
  * the session start plus warm-up passes over the small `warm` inputs.
  * The measured loop then repeats the workload's commands over the
  * `main` inputs, one after another (one closed-loop client), until
  * `seconds` have passed. With trace 1 a listener attributes Spark
  * jobs and tasks to the running command or corpus stage, and the dump
  * workloads add one traced pass that calls each layer's public
  * function in the command's order, pinning each layer's output, with
  * one span per layer (`<work>/spans.jsonl`).
  */
object Harness {

  val TagKey = "perfbench.layer"
  val WarmPasses = 1

  val CorpusStages: Seq[(String, String)] = Seq(
    "html_strip" -> "", "pii_scrub" -> "", "gopher_filter" -> "",
    "compression_filter" -> "    threshold: 0.1\n", "line_dedup_within" -> "",
    "dedup_exact" -> "", "dedup_near" -> "", "perplexity_filter" -> "    keep: 2\n",
    "mixture_temperature" -> "    alpha: 0.5\n", "curriculum_rank" -> "",
    "chunk" -> "    window: 64\n    stride: 48\n")

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, workDir, key) = args
    val work = Paths.get(workDir).toAbsolutePath
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("local[4]")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionS = secs(t0)
      val w = new Workload(workload, work, key, spark)
      val warm = (1 to WarmPasses).map { i =>
        val t = System.nanoTime()
        val r = w.iteration("warm", s"warm$i", listener = None)
        require(r.failures.isEmpty, s"warm-up failed: ${r.failures.mkString("; ")}")
        secs(t)
      }
      val listener = if (trace == "1") Some(new LayerListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val iterations = mutable.ArrayBuffer[Iter]()
      val loopStart = System.nanoTime()
      while (iterations.isEmpty || secs(loopStart) < seconds.toDouble)
        iterations += w.iteration("main", s"it${iterations.size}", listener)
      val traced = listener.map { l =>
        if (workload == "corpus_chain")
          w.iteration("main", "traced", Some(l), stageTags = true).json
        else w.tracedPass(l)
      }
      val json = new StringBuilder("{")
      json ++= s""""session_s": $sessionS, "warmup_s": ${arr(warm.map(_.toString))},"""
      json ++= s""" "iterations": ${arr(iterations.map(_.json))}"""
      traced.foreach(t => json ++= s""", "traced": $t""")
      json ++= "}"
      Files.write(work.resolve("result.json"), json.toString.getBytes(UTF_8))
    } finally spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  /** One measured repetition of a workload: per-command walls, the
    * command output lines, and (traced) per-tag listener totals.
    */
  final case class Iter(label: String, walls: Seq[(String, Double)], failures: Seq[String],
                        layers: Map[String, Acc], lines: Seq[String]) {
    def json: String =
      s"""{"label": ${str(label)}, "walls": {${walls.map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")}}, """ +
        s""""failures": ${arr(failures.map(str))}, "lines": ${arr(lines.map(str))}, """ +
        s""""layers": ${Acc.json(layers)}}"""
  }

  /** Listener totals of one tag: jobs, tasks, task time and bytes. */
  final class Acc {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var maxTaskMs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    def json: String =
      s"""{"jobs": $jobs, "tasks": $tasks, "task_s": ${taskMs / 1e3}, "max_task_s": ${maxTaskMs / 1e3}, """ +
        s""""input_mb": ${inputBytes / 1e6}, "shuffle_mb": ${shuffleBytes / 1e6}, "spill_mb": ${spillBytes / 1e6}}"""
  }
  object Acc {
    def json(m: Map[String, Acc]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${v.json}" }.mkString("{", ", ", "}")
  }

  /** Sums each job's tasks under the `perfbench.layer` local property
    * the job was submitted with.
    */
  final class LayerListener extends SparkListener {
    private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val accs = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
    private def acc(tag: String) = accs.computeIfAbsent(tag, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("untagged")
      acc(tag).jobs += 1
      e.stageIds.foreach(stageTag.put(_, tag))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageTag.getOrDefault(e.stageId, "untagged"))
      a.tasks += 1
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    /** Totals since the last call, once every queued event is in. */
    def take(spark: SparkSession): Map[String, Acc] = {
      PerfbenchBus.drain(spark.sparkContext)
      val m = accs.asScala.toMap
      accs.clear()
      m
    }
  }

  /** Spans kept in memory: (id, parent, name, start, end) in seconds
    * from the tracer's start; each span also tags the Spark jobs it
    * submits.
    */
  final class Tracer(spark: SparkSession) {
    private val t0 = System.nanoTime()
    private val spans = mutable.ArrayBuffer[(Int, Int, String, Double, Double)]()
    private var current = -1

    def span[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val id = spans.size
      val (parent, prevTag) = (current, sc.getLocalProperty(TagKey))
      spans += ((id, parent, name, secs(t0), Double.NaN))
      current = id
      sc.setLocalProperty(TagKey, name)
      try body
      finally {
        spans(id) = spans(id).copy(_5 = secs(t0))
        current = parent
        sc.setLocalProperty(TagKey, prevTag)
      }
    }

    def write(path: Path): Unit =
      Files.write(path, spans.map { case (id, p, n, s, e) =>
        s"""{"id": $id, "parent": $p, "name": ${str(n)}, "start": $s, "end": $e}"""
      }.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  final class Workload(name: String, work: Path, key: String, spark: SparkSession) {
    private val store = work.resolve("store")

    /** Writes the command config for one repetition and returns its path. */
    private def config(size: String, label: String): String = {
      val in = work.resolve("inputs").resolve(size)
      val conf = work.resolve("conf").resolve(s"$label.yaml")
      Files.createDirectories(conf.getParent)
      val yaml = name match {
        case "corpus_chain" =>
          s"""input_dir: ${in.resolve("docs.parquet")}
             |output_dir: ${work.resolve("corpus").resolve(label)}
             |stages:
             |""".stripMargin +
            CorpusStages.map { case (k, opts) => s"  - kind: $k\n$opts" }.mkString
        case _ =>
          val subset =
            if (name == "dumpfile_subset")
              "subset:\n  database: public\n  table: lineitem\n  seed_key: l_orderkey\n  percent: 10\n"
            else ""
          s"""source:
             |  database: public
             |  tables_dir: ${in.resolve("tables")}
             |  transformers:
             |    - table: customer
             |      columns:
             |        - name: c_name
             |          transformer_name: email
             |    - table: supplier
             |      columns:
             |        - name: s_name
             |          transformer_name: first-name
             |    - table: events
             |      columns:
             |        - name: props
             |          transformer_name: random
             |datastore:
             |  local_disk:
             |    dir: $store
             |  compression: true
             |encryption_key: "$key"
             |destination:
             |  output_dir: ${work.resolve("restore").resolve(label)}
             |  format: parquet
             |""".stripMargin + subset
      }
      Files.write(conf, yaml.getBytes(UTF_8))
      conf.toString
    }

    private def commands(size: String, label: String, conf: String): Seq[(String, Seq[String])] =
      name match {
        case "dump_full" => Seq(
          "create" -> Seq("-c", conf, "dump", "create", label),
          "restore" -> Seq("-c", conf, "dump", "restore", label))
        case "dumpfile_subset" => Seq(
          "create" -> Seq("-c", conf, "dump", "create", label, "--file",
            work.resolve("inputs").resolve(size).resolve("dump.sql").toString),
          "restore" -> Seq("-c", conf, "dump", "restore", label))
        case "corpus_chain" => Seq("corpus" -> Seq("corpus", "run", conf))
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }

    /** Runs the workload's commands once. With a listener each
      * command's jobs are tagged `cli.<command>`; with `stageTags` the
      * corpus jobs are tagged `ops.<stage>` instead, switching when the
      * command prints a stage's line (printed after the stage's count).
      */
    def iteration(size: String, label: String, listener: Option[LayerListener],
                  stageTags: Boolean = false): Iter = {
      val sc = spark.sparkContext
      val conf = config(size, label)
      val walls = mutable.ArrayBuffer[(String, Double)]()
      val failures = mutable.ArrayBuffer[String]()
      val lines = mutable.ArrayBuffer[String]()
      val stages = CorpusStages.map(_._1)
      var start = 0L
      for ((cmd, args) <- commands(size, label, conf)) {
        val tagOf = (i: Int) => if (stageTags) {
          if (i < stages.size) s"ops.${stages(i)}" else "cli.corpus_write"
        } else s"cli.$cmd"
        var stageIdx = 0
        val out = (line: String) => {
          val now = secs(start)
          lines += f"$cmd%s $now%.6f $line%s"
          if (line.startsWith("stage ")) {
            stageIdx += 1
            if (stageTags) sc.setLocalProperty(TagKey, tagOf(stageIdx))
          }
        }
        if (listener.isDefined) sc.setLocalProperty(TagKey, tagOf(0))
        start = System.nanoTime()
        val code =
          try Cli.run(args, spark, out)
          catch { case e: Exception => failures += s"$cmd: $e"; -1 }
        walls += (cmd -> secs(start))
        sc.setLocalProperty(TagKey, null)
        if (code > 0) failures += s"$cmd: exit code $code"
      }
      Iter(label, walls.toSeq, failures.toSeq,
        listener.map(_.take(spark)).getOrElse(Map.empty), lines.toSeq)
    }

    /** One traced dump → restore: each layer's public function in the
      * command's order with the command's arguments, each layer's
      * output pinned and forced by a `noop` write, one span per layer.
      * Returns the traced walls, per-layer listener totals, row counts
      * and the single-threaded codec rates as JSON.
      */
    def tracedPass(listener: LayerListener): String = {
      listener.take(spark)
      val label = "traced"
      val conf = GraftConfig.load(config("main", label))
      val db = conf.sourceConf.db
      val in = work.resolve("inputs").resolve("main")
      val ds = new Datastore(conf.datastore.get.rootUri, spark)
      val tr = new Tracer(spark)
      val rows = mutable.Map[String, Long]().withDefaultValue(0L)
      val pinned = mutable.ArrayBuffer[Dataset[_]]()
      def pin[T](layer: String, d: Dataset[T]): Dataset[T] = {
        d.persist(StorageLevel.MEMORY_AND_DISK)
        pinned += d
        d.write.format("noop").mode("overwrite").save()
        rows(layer) += tr.span("trace.count")(d.count())
        d
      }
      import spark.implicits._
      tr.span("pipeline") {
        tr.span("cli.create") {
          val (source, fks, ddl) = tr.span("ingest.parse") {
            if (name == "dump_full") {
              val ts = Seq("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events")
              (ts.map(t => t -> pin("ingest.parse",
                Tables.load(spark, in.resolve("tables").toString, t))).toMap,
                Seq.empty[graft.model.FkEdge], Map.empty[String, String])
            } else {
              val stmts = pin("ingest.statements",
                DumpReader.statements(spark, in.resolve("dump.sql").toString))
              val ts = stmts.filter(_.kind == StatementKind.InsertInto)
                .map(s => s.table).distinct().collect().toSeq.sorted
              val ddl = stmts.filter(_.kind == StatementKind.CreateTable)
                .map(s => (s.table, s.sql)).collect().toMap
              (ts.map(t => t -> pin("ingest.parse",
                DumpReader.tableFromDump(stmts, db, t, ddl.get(t)))).toMap,
                DumpReader.foreignKeys(stmts), ddl)
            }
          }
          val base = conf.subsetConfig match {
            case Some(sc) => tr.span("subset") {
              val sub = Subset.run(source, fks, sc.table, sc.seedKey, sc.percent,
                sc.passthroughTables)
              source.map { case (t, df) => t -> pin("subset", sub.getOrElse(t, df.limit(0))) }
            }
            case None => source
          }
          val masked = tr.span("transform") {
            base.map { case (t, df) =>
              t -> pin("transform", Transformers.applyBindings(df,
                conf.bindings.filter(b => b.database == db && b.table == t)))
            }
          }
          val statements = tr.span("ingest.encode") {
            val inserts = masked.map { case (t, df) =>
              DumpSink.toInsertStatements(DumpSink.sqlSafe(df), db, t)
            }.reduce(_.unionByName(_))
            val tableDdl = masked.keys.toSeq.sorted.map(t =>
              ddl.getOrElse(t, PgLive.createTableSql(t, masked(t).schema)))
            pin("ingest.encode", spark.createDataset(
              Seq("SET standard_conforming_strings = on;") ++ tableDdl).unionByName(inserts))
          }
          tr.span("store.write") {
            ds.write(label, statements, conf.datastore.flatMap(_.compression).getOrElse(true),
              conf.encryptionKey)
          }
        }
        tr.span("cli.restore") {
          val strings = tr.span("store.read")(pin("store.read", ds.read(label, conf.encryptionKey)))
          val frames = tr.span("ingest.restore_parse") {
            val stmts = pin("ingest.restore_statements",
              DumpReader.statementsFromStrings(spark, strings, pgStrings = Some(true)))
            val ts = stmts.filter(_.kind == StatementKind.InsertInto)
              .map(s => (s.database, s.table)).distinct().collect()
            val ddl = stmts.filter(_.kind == StatementKind.CreateTable)
              .map(s => (s.table, s.sql)).collect().toMap
            ts.map { case (d, t) =>
              t -> pin("ingest.restore_parse", DumpReader.tableFromDump(stmts, d, t, ddl.get(t)))
            }.toMap
          }
          tr.span("cli.restore_write") {
            frames.foreach { case (t, df) =>
              df.write.mode("overwrite").parquet(work.resolve("restore").resolve(label).resolve(t).toString)
            }
            rows("cli.restore_write") = rows("ingest.restore_parse")
          }
        }
      }
      val layers = listener.take(spark)
      pinned.foreach(_.unpersist())
      tr.write(work.resolve("spans.jsonl"))
      val codec = codecRates(store.resolve(label), conf.encryptionKey)
      s"""{"layers": ${Acc.json(layers)}, "rows": {${rows.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")}}, "codec": $codec}"""
    }

    /** `Codecs.decode` then `Codecs.encode` over the stored chunks of
      * one dump on this thread alone, repeated for at least half a
      * second; rates are in MB of plain chunk text per second.
      */
    private def codecRates(dir: Path, key: Option[String]): String = {
      val chunks = Files.list(dir).iterator().asScala
        .filter(_.toString.endsWith(".dump")).toSeq.sorted.map(p => Files.readAllBytes(p))
      var (decNs, encNs, rawBytes, passes) = (0L, 0L, 0L, 0)
      val start = System.nanoTime()
      while (passes < 2 || System.nanoTime() - start < 500000000L) {
        chunks.foreach { c =>
          val t0 = System.nanoTime()
          val raw = Codecs.decode(c, compressed = true, key)
          val t1 = System.nanoTime()
          Codecs.encode(raw, compressed = true, key)
          encNs += System.nanoTime() - t1
          decNs += t1 - t0
          rawBytes += raw.length
        }
        passes += 1
      }
      s"""{"passes": $passes, "wall_s": ${(decNs + encNs) / 1e9 / passes}, """ +
        s""""encode_mb_s": ${rawBytes / 1e6 / (encNs / 1e9)}, "decode_mb_s": ${rawBytes / 1e6 / (decNs / 1e9)}}"""
    }
  }
}
