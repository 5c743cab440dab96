package graft.pipeline

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pins
import graft.ops.{Dedup, Sampling, TextAnalysis => TA}

/** One stage of a config-driven corpus pipeline. `kind` selects the
  * operator; the optional fields are per-kind parameters (unused ones
  * ignored, same permissive style as the dump config).
  */
final case class CorpusStageConf(
    kind: String,
    benchmark_source: Option[String],
    // Numbers deserialize as Option[Number]: Jackson's Scala module
    // erases Option[Long]/[Double] element types, so `keep: 20` lands
    // as a boxed Integer and a typed field would ClassCastException at
    // first unbox. The `*Val` accessors convert at use.
    n: Option[Number],
    threshold: Option[Number],
    alpha: Option[Number],
    budget_tokens: Option[Number],
    keep: Option[Number],
    window: Option[Number],
    stride: Option[Number],
    shards: Option[Number],
    rates: Option[Map[String, Number]],
    default_rate: Option[Number],
    // epoch_mix: what mass the target shares weigh — "docs" (default)
    // or "tokens" (what a training mix actually specifies)
    weight: Option[String],
    // scrub_exact_substr: spans duplicated >= min_count times are cut
    min_count: Option[Number],
    // dedup_semantic / diversify: where the (vec_id, embedding) table
    // lives and how its id column maps onto the document frame's id
    embeddings_dir: Option[String],
    vec_id_column: Option[String],
    vector_column: Option[String],
    sample_mod: Option[Number],
    // diversify: the fraction of each cluster's most prototypical
    // (nearest-centroid) documents to drop — D4's diversification knob
    drop_frac: Option[Number],
    // unimax_mix: what fraction of the corpus's total weight the token
    // budget is, and the per-stratum repeat cap (epochs)
    budget_frac: Option[Number],
    max_epochs: Option[Number],
    // dsir_select: the curated target corpus — an external parquet dir
    // (same text column name) or the input slice whose guessed
    // language matches
    target_dir: Option[String],
    target_lang: Option[String],
    // perplexity_filter: which corpus LM scores fluency — "unigram"
    // (default, add-one) or "kn_bigram" (Kneser-Ney interpolated)
    model: Option[String],
    // source_cap: the grouping column (default "source") and the max
    // fraction of the input any one group may keep
    group_by: Option[String],
    max_share: Option[Number],
    // holdout_split: hash-domain separator so a rerun with a different
    // salt draws an independent split
    salt: Option[String],
    // dedup_phash: where the (media_id, media, media_type) sidecar
    // lives, how its id maps onto the document frame, and the Hamming
    // radius (≤ 3 — the 4-band bucketing's exhaustive range)
    media_dir: Option[String],
    media_id_column: Option[String],
    max_distance: Option[Number],
    // pagerank_select: where the (src, dst) link-edge sidecar lives
    // (ids in the doc-id domain); n = power-iteration rounds,
    // budget_frac = kept top fraction by rank
    edges_dir: Option[String],
    // url_filter: UT1/RefinedWeb-style blocklists over the frame's
    // `url` column (host-suffix domains; lowercase path/query tokens)
    block_domains: Option[Seq[String]],
    block_tokens: Option[Seq[String]]) {
  def nVal(default: Int): Int = n.fold(default)(_.intValue)
  def minCountVal(default: Int): Int = min_count.fold(default)(_.intValue)
  def sampleModVal(default: Int): Int = sample_mod.fold(default)(_.intValue)
  def dropFracVal(default: Double): Double = drop_frac.fold(default)(_.doubleValue)
  def thresholdVal(default: Double): Double = threshold.fold(default)(_.doubleValue)
  def alphaVal(default: Double): Double = alpha.fold(default)(_.doubleValue)
  def budgetTokensVal: Option[Long] = budget_tokens.map(_.longValue)
  def keepVal: Option[Long] = keep.map(_.longValue)
  def windowVal(default: Int): Int = window.fold(default)(_.intValue)
  def strideVal(default: Int): Int = stride.fold(default)(_.intValue)
  def shardsVal(default: Int): Int = shards.fold(default)(_.intValue)
  def ratesVal: Map[String, Double] =
    rates.getOrElse(Map.empty).map { case (k, v) => k -> v.doubleValue }
  def defaultRateVal(default: Double): Double = default_rate.fold(default)(_.doubleValue)
  def budgetFracVal(default: Double): Double = budget_frac.fold(default)(_.doubleValue)
  def maxEpochsVal(default: Double): Double = max_epochs.fold(default)(_.doubleValue)
  def maxShareVal(default: Double): Double = max_share.fold(default)(_.doubleValue)
  def maxDistanceVal(default: Int): Int = max_distance.fold(default)(_.intValue)
}

/** The corpus-pipeline job config — the LLM-ops analog of the dump
  * config: declare the stage chain in YAML, run it with
  * `graft.Cli corpus run <file.yaml>`. A reference user's muscle memory
  * (config file in, artifact out) applies unchanged to the
  * training-data surface.
  */
final case class CorpusPipelineConf(
    input_dir: String,
    output_dir: String,
    // how `input_dir` is stored: "parquet" (default) or "warc" — a
    // crawl of `.warc.gz` files read through [[graft.ingest.Warc]]
    // (HTTP-200 text/html responses → stripped text documents)
    input_format: Option[String],
    id_column: Option[String],
    text_column: Option[String],
    // streaming-only (corpus stream): checkpoint location, optional
    // static corpus to admit against, state watermark
    checkpoint_dir: Option[String],
    corpus_dir: Option[String],
    watermark: Option[String],
    stages: Seq[CorpusStageConf]) {
  def idCol: String = id_column.getOrElse("doc_id")
  def textCol: String = text_column.getOrElse("text")
  def inputDir: String = graft.config.GraftConfig.substituteEnvVar(input_dir)
  def outputDir: String = graft.config.GraftConfig.substituteEnvVar(output_dir)
}

object CorpusPipeline {

  val ShapingKinds: Set[String] = Set(
    "html_strip", "pii_scrub", "gopher_filter", "compression_filter", "c4_clean",
    "quality_filter_trained", "perplexity_filter", "decontaminate_spans",
    "scrub_exact_substr", "line_dedup", "line_dedup_within", "dedup_exact",
    "dedup_near", "dedup_semantic", "dedup_phash", "dedup_audio_fp",
    "diversify", "cluster_balance",
    "quality_rep_dedup", "stratified_sample",
    "mixture_temperature", "budget_select", "curriculum_rank", "dsir_select",
    "source_cap", "doremi_mix", "pagerank_select", "url_filter", "url_dedup",
    "keyword_filter", "holdout_split", "leakage_quarantine")
  val TerminalKinds: Set[String] =
    Set("chunk", "pack", "epoch_mix", "unimax_mix", "tokenize_unigram")

  /** Stage kinds that are pure per-row transforms — the only ones a
    * streaming chain admits (everything else needs corpus-wide state
    * the batch path owns).
    */
  val StreamableKinds: Set[String] =
    Set("html_strip", "pii_scrub", "gopher_filter", "compression_filter", "c4_clean",
      "url_filter", "keyword_filter")

  /** The dedup verdicts that have an O(batch) admission form against a
    * persisted corpus index. Declared before [[IncrementalKinds]], which
    * reads it while the object initialises.
    */
  private val DedupKinds: Set[String] = Set("dedup_exact", "dedup_near", "dedup_semantic")

  /** Kinds an incremental run admits: per-row shaping plus the dedup
    * verdicts.
    */
  val IncrementalKinds: Set[String] = StreamableKinds ++ DedupKinds

  private val mapper = new ObjectMapper(new YAMLFactory())
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** Resolve `input_dir` through its declared format — the one place
    * the pipeline touches bytes that aren't parquet yet. WARC input
    * lands as a (id, url, text) frame, so the stage chain downstream
    * is format-blind.
    */
  private def loadInput(spark: SparkSession, conf: CorpusPipelineConf): DataFrame =
    conf.input_format.map(_.toLowerCase).getOrElse("parquet") match {
      case "parquet" => spark.read.parquet(conf.inputDir)
      case "warc" =>
        graft.ingest.Warc.documents(spark, conf.inputDir, conf.idCol, conf.textCol)
      case other => throw new IllegalArgumentException(
        s"unknown input_format '$other' — known: parquet, warc")
    }

  def load(path: String): CorpusPipelineConf =
    mapper.readValue(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"),
      classOf[CorpusPipelineConf])

  private def validateStages(conf: CorpusPipelineConf): Unit = {
    require(conf.stages.nonEmpty, "corpus pipeline needs at least one stage")
    val unknown = conf.stages.map(_.kind).filterNot(k =>
      ShapingKinds.contains(k) || TerminalKinds.contains(k))
    require(unknown.isEmpty,
      s"unknown stage kind(s): ${unknown.mkString(", ")} — known: " +
        (ShapingKinds ++ TerminalKinds).toSeq.sorted.mkString(", "))
    conf.stages.dropRight(1).filter(s => TerminalKinds.contains(s.kind)) match {
      case Nil =>
      case bad => throw new IllegalArgumentException(
        s"terminal stage(s) ${bad.map(_.kind).mkString(", ")} must be last")
    }
  }

  /** The frame every chain starts from: (id, text), plus `source` when
    * present — decontaminate_spans slices the benchmark by it (its own
    * output drops it again) — and `url`, which the URL stages read.
    */
  private def baseFrame(docs0: DataFrame, conf: CorpusPipelineConf): DataFrame = {
    val carried = Seq("source", "url").filter(c => c != conf.textCol && docs0.columns.contains(c))
    docs0.select(col(conf.idCol) +: col(conf.textCol).as("text") +: carried.map(col): _*)
  }

  /** Dry-run plan transparency — `corpus explain <conf>`: validate the
    * config, build the configured chain WITHOUT executing it, and
    * report the cumulative physical-plan shape (parquet scans, shuffle
    * Exchanges) at every stage boundary, then the final formatted
    * plan. Nothing corpus-sized runs: no persist, no count, no write.
    * (Model-fitting stages — dsir_select's bucket aggregations, a
    * perplexity LM's vocab counts — still execute their BOUNDED fit
    * jobs where the model is driver state baked into the plan; the
    * corpus-wide transform itself stays unexecuted.) The per-stage
    * Exchange count is the number a 100 TB operator reviews before
    * committing a cluster to the chain.
    */
  def explain(spark: SparkSession, conf: CorpusPipelineConf,
              out: String => Unit): Unit = {
    validateStages(conf)
    // plan with AQE off so EnsureRequirements' Exchanges are visible
    // as concrete nodes (under AQE the executed plan hides its inner
    // tree until runtime) — in a session of its own: it shares the
    // SparkContext and the engine's functions, plans under the caller's
    // settings, and jobs running in the caller's session keep their AQE
    val planning = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (planning.conf.isModifiable(k)) planning.conf.set(k, v) }
    planning.conf.set("spark.sql.adaptive.enabled", "false")
    val docs0 = loadInput(planning, conf)
    out(s"input: ${conf.inputDir}")
    val finalDf = conf.stages.foldLeft(baseFrame(docs0, conf)) { (df, st) =>
      val next = applyStage(df, st, conf.idCol, docs0, conf.textCol)
      val plan = next.queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.length
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.length
      val broadcasts = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b }.length
      out(f"stage ${st.kind}%-20s scans=$scans exchanges=$exchanges " +
        s"broadcasts=$broadcasts columns=${next.columns.mkString(",")}")
      next
    }
    out(finalDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
  }

  /** First-look corpus profile BEFORE any curation: per-language doc
    * counts / token mass / mean quality (one map-side-combined groupBy
    * over narrow per-row metrics) plus the corpus exact-duplicate rate
    * (distinct fingerprints vs rows — one hash shuffle of 16-byte
    * keys). These are the numbers that pick the stage chain: language
    * mix → stratified/temperature knobs, dup rate → whether dedup_near
    * earns its shuffle, quality mass → gate thresholds. Two corpus
    * passes total over one persisted skinny projection; text never
    * crosses an exchange.
    */
  def stats(spark: SparkSession, conf: CorpusPipelineConf,
            out: String => Unit): Unit = {
    val id = conf.idCol
    val docs = loadInput(spark, conf).select(col(id), col(conf.textCol).as("text"))
    Pins.scoped {
      val metered = Pins.persist(docs.select(col(id),
          TA.langId(col("text")).as("lang"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"),
          TA.qualityScore(col("text")).as("q"),
          fingerprint), "corpus.stats.metered")
      val byLang = metered.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
          avg(col("q")).as("avg_q"))
        .orderBy(col("docs").desc, col("lang")).collect()
      val total = byLang.map(_.getAs[Long]("docs")).sum
      val totalTokens = byLang.map(_.getAs[Long]("tokens")).sum
      val distinctFp = metered.select(col("fp")).distinct().count()
      out(s"docs=$total tokens=$totalTokens distinct_texts=$distinctFp " +
        f"exact_dup_rate=${1.0 - distinctFp.toDouble / math.max(total, 1L).toDouble}%.4f")
      byLang.foreach { r =>
        out(f"lang=${r.getAs[String]("lang")}%-4s docs=${r.getAs[Long]("docs")}%7d " +
          f"tokens=${r.getAs[Long]("tokens")}%9d avg_quality=${r.getAs[Double]("avg_q")}%.3f")
      }
    }
  }

  /** Run the configured stage chain over the input documents table and
    * write the result to `output_dir` as parquet. Shaping stages
    * transform the (id, text, …) frame and may append columns (e.g.
    * `rank`); a terminal stage (chunk/pack) must be last. The chain
    * runs as the one output write; once it is written, each stage's
    * row count goes through `out` in stage order — the operator's
    * progress report, read from the stage's pin, which the write built
    * ([[Pins.rowCount]]). Returns the terminal stage's count, which is
    * the output's row count. The run is one [[Pins]] scope: every
    * stage's pin is held until the run returns.
    */
  def run(spark: SparkSession, conf: CorpusPipelineConf,
          out: String => Unit): Long = Pins.scoped {
    validateStages(conf)
    val docs0 = loadInput(spark, conf)
    out(s"input: ${conf.inputDir}")
    // each stage output is pinned (lazily, lineage kept), so a stage
    // that reads its input twice still computes each upstream stage
    // once, and the write leaves every stage's row count in its pin
    val frames = conf.stages.scanLeft(baseFrame(docs0, conf)) { (df, st) =>
      Pins.persist(applyStage(df, st, conf.idCol, docs0, conf.textCol),
        s"corpus.stage.${st.kind}")
    }
    val result = frames.last
    result.write.mode("overwrite").parquet(conf.outputDir)
    val rows = conf.stages.zip(frames.tail).map { case (st, df) =>
      val n = Pins.rowCount(df)
      out(f"stage ${st.kind}%-20s rows=$n")
      n
    }.last
    // Eager admission artifacts: when the chain is one an incremental
    // run admits ([[incrementalChainProblem]]), this run already HAS
    // everything the `<output>.artifacts/` indexes need — the frames
    // ENTERING each dedup stage, drops included. Writing them now (a)
    // spares the first `--into` increment its only O(corpus) text
    // re-read (the lazy bootstrap) and (b) closes the bootstrap scoping
    // gap: rows THIS run dropped stay indexed, so an increment rejects
    // their future duplicates exactly as the union run would. A chain
    // like [dedup_exact, pii_scrub] fails the rule: it rewrites text
    // AFTER the dedup keys were hashed, so eager artifacts from it would
    // hold fingerprints no increment could match; it keeps the lazy
    // bootstrap, which fingerprints the final output.
    val eager = incrementalChainProblem(conf).isEmpty
    val entering = conf.stages.map(_.kind).zip(frames)
      .filter(kf => DedupKinds(kf._1)).distinctBy(_._1).toMap
    // stale-artifact hygiene: overwriting the output invalidates any
    // admission artifacts a previous incremental sequence left beside
    // it — a later `--into` must never admit against an index of data
    // this run just replaced
    val artRoot = new org.apache.hadoop.fs.Path(conf.outputDir + ".artifacts")
    artRoot.getFileSystem(spark.sessionState.newHadoopConf()).delete(artRoot, true)
    if (eager && entering.nonEmpty) {
      writeArtifacts(conf, artRoot.toString, entering, result, "overwrite")
      out(s"admission artifacts written beside the output at $artRoot")
    }
    out(s"output: ${conf.outputDir} rows=$rows")
    rows
  }

  /** The exact-dedup key: the fingerprint of a row's text. */
  private def fingerprint: Column = TA.fingerprint(col("text")).as("fp")

  /** The `fp/` artifact rows for `rows`: their distinct fingerprints. */
  private def fpIndex(rows: DataFrame): DataFrame = rows.select(fingerprint).distinct()

  /** The `lsh/` artifact rows for `rows`: their MinHash-LSH bands. */
  private def lshIndex(rows: DataFrame, id: String, near: CorpusStageConf): DataFrame =
    Dedup.buildLshIndex(rows, id, col("text"), near.nVal(3))

  /** The `coslsh/` artifact rows for `rows`: the cosine-LSH buckets of
    * their sidecar vectors (`vecs`, from [[sidecarVectors]]).
    */
  private def cosIndex(vecs: DataFrame, rows: DataFrame, id: String): DataFrame =
    graft.ops.Similarity.buildCosineLshIndex(
      vecs.join(rows.select(col(id)), Seq(id), "left_semi"), id, "__graft_vec")

  /** A stage's sidecar embedding table as (`id`, `__graft_vec`). */
  private def sidecarVectors(spark: SparkSession, st: CorpusStageConf,
                             id: String): DataFrame =
    spark.read.parquet(graft.config.GraftConfig.substituteEnvVar(
        st.embeddings_dir.getOrElse(throw new IllegalArgumentException(
          s"${st.kind} needs embeddings_dir"))))
      .select(col(st.vec_id_column.getOrElse("vec_id")).as(id),
        col(st.vector_column.getOrElse("embedding")).as("__graft_vec"))

  /** Write (`mode` "overwrite": a from-scratch run's eager write) or
    * extend (`mode` "append": an increment) the admission artifacts
    * under `artRoot` for the configured dedup stages. `entering` holds
    * the frame entering each dedup stage, by kind; `kept` is what the
    * chain kept. Coverage is deliberately WIDER than `kept` — it is
    * what makes admission transitive across increments, matching the
    * from-scratch union run:
    *   fp           ← every row entering dedup_exact (a future exact
    *                  dup of a row dropped anywhere must still be
    *                  rejected, as exact dedup over the union would);
    *   lsh          ← every row entering dedup_near, and near_dropped/
    *                  the (id, text) of those not kept, so future
    *                  collisions against them verify;
    *   coslsh       ← every row entering dedup_semantic, and
    *                  sem_dropped/ the ids of those not kept.
    * ORDER matters for crash-replay: fp commits LAST. If it committed
    * first and the crash hit before the lsh/near_dropped appends, a
    * replay would exact-drop the dropped rows against their OWN
    * fingerprints — they would never reach the near stage again and
    * their lsh/near_dropped coverage would be lost for good. With fp
    * last, an un-fp'd replay re-runs those rows through the
    * near/semantic stages, which re-drops them and re-appends their
    * (idempotent, dedup-consumed) index rows.
    */
  private def writeArtifacts(conf: CorpusPipelineConf, artRoot: String,
                             entering: Map[String, DataFrame], kept: DataFrame,
                             mode: String): Unit = {
    val id = conf.idCol
    def write(rows: DataFrame, name: String): Unit =
      rows.write.mode(mode).parquet(s"$artRoot/$name")
    def dropped(kind: String): DataFrame =
      entering(kind).join(kept.select(col(id)), Seq(id), "left_anti")
    def stage(kind: String): Option[CorpusStageConf] = conf.stages.find(_.kind == kind)
    stage("dedup_near").foreach { st =>
      write(lshIndex(entering("dedup_near"), id, st), "lsh")
      write(dropped("dedup_near").select(col(id), col("text")), "near_dropped")
    }
    stage("dedup_semantic").foreach { st =>
      write(cosIndex(sidecarVectors(kept.sparkSession, st, id), entering("dedup_semantic"), id),
        "coslsh")
      write(dropped("dedup_semantic").select(col(id)), "sem_dropped")
    }
    stage("dedup_exact").foreach(_ => write(fpIndex(entering("dedup_exact")), "fp"))
  }

  /** The incremental-chain rule, or what breaks it: only
    * [[IncrementalKinds]], with every per-row stage before the first
    * dedup stage, because per-row stages rewrite the text the dedup
    * keys hash. The incremental paths refuse a chain that breaks it;
    * `run` writes admission artifacts eagerly only for one that keeps
    * it.
    */
  private def incrementalChainProblem(conf: CorpusPipelineConf): Option[String] = {
    val kinds = conf.stages.map(_.kind)
    val badKinds = kinds.filterNot(IncrementalKinds.contains)
    val firstDedup = kinds.indexWhere(DedupKinds.contains)
    if (badKinds.nonEmpty)
      Some(s"incremental corpus run admits only ${IncrementalKinds.toSeq.sorted.mkString(", ")} — " +
        s"got: ${badKinds.mkString(", ")} (corpus-wide stages need a from-scratch `corpus run`)")
    else if (firstDedup >= 0 && kinds.drop(firstDedup).exists(StreamableKinds.contains))
      Some("per-row stages must precede the dedup stages in an incremental chain " +
        "(they rewrite the text the dedup keys are hashed from)")
    else None
  }

  private def requireIncrementalChain(conf: CorpusPipelineConf): Unit = {
    val problem = incrementalChainProblem(conf)
    require(problem.isEmpty, problem.orNull)
  }

  /** Incremental admission: run the configured chain over a NEW shard
    * (`input_dir`) against a PRIOR run's output at `priorDir`, appending
    * only the rows that survive — the 100 TB operational mode, where a
    * day's crawl is admitted without re-deduplicating the corpus.
    *
    * Beside the output, under `<priorDir>.artifacts/`, live the
    * fingerprint set (`fp/`), the MinHash-LSH band index (`lsh/`), and
    * — when a `dedup_semantic` stage is configured — the cosine-LSH
    * bucket index (`coslsh/`) of everything admitted so far: built
    * once from the prior output if
    * absent (the only time corpus text is read), extended with each
    * increment's survivors, and read — never rebuilt — on every later
    * run, so an increment costs O(batch), not O(corpus). All paths go
    * through the Hadoop filesystem API (object-store-capable, like the
    * datastore).
    *
    * Equality contract (CliSpec-pinned): when the shard's ids sort
    * after the corpus's — the natural shape for append-only ingest,
    * ENFORCED loudly in `admitBatch` — the output after admission
    * equals a from-scratch run of the same chain over the union of the
    * inputs: exact admission drops a batch row whose fingerprint is
    * already ingested (= union's min-id keeper), near admission drops
    * batch rows landing in a cluster with an ingested (lower-id)
    * member and keeps each batch-only cluster's min id. The contract
    * is TRANSITIVE across increments: the artifacts index not just
    * survivors but every row an increment dedup-dropped (fingerprints
    * of all shaped rows; LSH rows plus `near_dropped/` text for
    * near/semantic drops; `sem_dropped/` ids for the vector lookup),
    * so a later shard row duplicating a previously DROPPED row is
    * still rejected, exactly as the union run rejects it via the
    * transitive cluster. A from-scratch `corpus run` whose chain is
    * itself incremental-compatible writes these artifacts EAGERLY
    * (drops included, see [[writeArtifacts]]), so the contract
    * holds over the full union of all inputs. Only for an output
    * produced some other way (an external parquet dir, a chain with
    * corpus-wide stages) does the first increment fall back to the
    * lazy bootstrap, which can only index the output's SURVIVORS —
    * there, equality is scoped to the union of the prior output and
    * the shards. Per-row stages must precede the dedup stages in the
    * chain, because they rewrite the text the dedup keys hash.
    */
  def runIncremental(spark: SparkSession, conf: CorpusPipelineConf,
                     priorDir: String, out: String => Unit): Long = {
    requireIncrementalChain(conf)
    val docs0 = loadInput(spark, conf)
    out(s"input: ${conf.inputDir} (incremental into $priorDir)")
    admitBatch(spark, conf, docs0, priorDir, out)
  }

  /** The incremental admission core — shared by the batch
    * (`runIncremental`) and streaming (`startStreamIncremental`) paths:
    * per-row stages over the shard, exact/near admission against the
    * persisted artifacts, survivor append, artifact extension.
    */
  private def admitBatch(spark: SparkSession, conf: CorpusPipelineConf,
                         docs0: DataFrame, priorDir: String,
                         out: String => Unit,
                         streamBatchId: Option[(String, Long)] = None): Long = Pins.scoped {
    import org.apache.hadoop.fs.Path
    val id = conf.idCol
    val fs = new Path(priorDir).getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(priorDir)),
      s"prior output $priorDir does not exist — run `corpus run` first")
    val prior = spark.read.parquet(priorDir)
    val artRoot = new Path(priorDir + ".artifacts")
    def ready(p: Path): Boolean = fs.exists(new Path(p, "_SUCCESS"))
    def artifact(name: String): DataFrame = spark.read.parquet(new Path(artRoot, name).toString)
    // `rows` plus a drop-coverage artifact's rows, once one exists
    def withDropped(rows: DataFrame, name: String): DataFrame =
      if (fs.exists(new Path(artRoot, name))) rows.unionByName(artifact(name)) else rows

    // streaming replay, fast path: a batch whose completion marker
    // committed was FULLY admitted (output appended, every artifact
    // extended) — skip it outright. The marker is written as the LAST
    // step below, so its existence proves every earlier append landed.
    // Batch ids only mean anything within ONE checkpoint lineage, so
    // the marker is keyed by the checkpoint's identity too — a stream
    // restarted under a FRESH checkpoint restarts ids at 0 and must
    // not false-match the old lineage's markers.
    val marker = streamBatchId.map { case (ckpt, b) =>
      val ck = java.security.MessageDigest.getInstance("MD5")
        .digest(ckpt.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      new Path(artRoot, s"_batch-$ck-$b")
    }
    if (marker.exists(fs.exists(_))) {
      out(s"batch marker ${marker.get.getName} present — already admitted, skipping replay")
      return 0L
    }

    val shaped0 = conf.stages.filter(s => StreamableKinds.contains(s.kind))
      .foldLeft(baseFrame(docs0, conf))(applyStage(_, _, id, docs0, conf.textCol))
    // the appended files must carry the prior output's exact schema —
    // parquet reads take one footer's schema, so a column present in
    // only some files would silently vanish from later reads
    require(prior.columns.forall(shaped0.columns.contains),
      s"shard lacks prior-output columns: " +
        prior.columns.filterNot(shaped0.columns.contains).mkString(", "))
    // checkpointed: read by the id guard, the overlap joins (streaming),
    // the exact stage twice, and the fp extension — without it every
    // consumer re-reads the shard and re-runs the per-row chain
    val shaped =
      Pins.checkpoint(shaped0.select(prior.columns.map(col): _*), "corpus.admit.shaped")

    val exactStage = conf.stages.find(_.kind == "dedup_exact")
    val nearStage = conf.stages.find(_.kind == "dedup_near")
    val semStage = conf.stages.find(_.kind == "dedup_semantic")
    // the sidecar must cover BOTH the ingested corpus and the shard —
    // an upstream embedder maintains it alongside the crawl
    val embFrame = semStage.map(sidecarVectors(spark, _, id))
    // Bootstrap (once, from the prior output — the only time corpus
    // text is re-read): each index an active stage needs, if absent.
    // Centralized so the replay-recovery path can force it BEFORE it
    // appends to an index — an append to a never-bootstrapped path
    // would create a partial artifact whose `_SUCCESS` marker then
    // masks the missing corpus coverage.
    def ensure(name: String, what: String)(index: => DataFrame): Unit = {
      val path = new Path(artRoot, name)
      if (!ready(path)) {
        out(s"building $what $path from prior output")
        index.write.mode("overwrite").parquet(path.toString)
      }
    }
    def ensureArtifacts(): Unit = {
      exactStage.foreach(_ => ensure("fp", "fingerprint artifact")(fpIndex(prior)))
      nearStage.foreach(st => ensure("lsh", "LSH index artifact")(lshIndex(prior, id, st)))
      semStage.foreach(_ =>
        ensure("coslsh", "cosine-LSH index artifact")(cosIndex(embFrame.get, prior, id)))
    }

    // The equality contract (see the scaladoc above runIncremental)
    // requires batch ids to sort strictly AFTER everything already
    // admitted. Batch mode enforces it loudly — an id-reusing shard
    // would otherwise DIVERGE SILENTLY from the from-scratch union (the
    // union's keeper would be the batch row; the incremental path keeps
    // the immutable corpus row) and a duplicate id double-appends.
    // Streaming mode instead treats overlap as what the checkpointed
    // source makes it: a crash-replayed micro-batch whose corpus append
    // committed but whose artifact extensions may not have — the
    // already-admitted rows are dropped from the batch and the indexes
    // are re-extended with them FIRST (duplicate index rows are
    // harmless: every consumer dedups), so the remainder re-admits
    // against complete artifacts. This is also why a streaming shard
    // must keep the same monotone-id discipline: a reused id is
    // indistinguishable from a replay and is treated as already
    // admitted.
    val batchIn = streamBatchId match {
      case None =>
        val chk = shaped.select(min(col(id)).as("bmin"))
          .crossJoin(prior.select(max(col(id)).as("pmax"))).first()
        if (!chk.isNullAt(0) && !chk.isNullAt(1)) {
          val (bmin, pmax) = (chk.get(0), chk.get(1))
          require(bmin.asInstanceOf[Comparable[Any]].compareTo(pmax) > 0,
            s"shard ids must sort after the admitted corpus's (batch min $id=$bmin " +
              s"<= prior max $id=$pmax) — the incremental==from-scratch equality " +
              "contract breaks otherwise. If this is a retry of a crashed " +
              "`corpus run --into`, use `corpus stream --into` (replay-safe) or " +
              "restore the prior output from before the crash.")
        }
        shaped
      case Some(_) =>
        val overlap = Pins.checkpoint(
          shaped.join(prior.select(col(id)), Seq(id), "left_semi"), "corpus.admit.overlap")
        if (overlap.count() == 0) shaped
        else {
          // a true replay carries the SAME rows the crashed attempt
          // admitted — verify it before re-extending: an id-reusing
          // producer bug (new text under an admitted id) would
          // otherwise poison the indexes with fingerprints of text
          // that exists nowhere, silently rejecting its future
          // duplicates forever. Fingerprints compare post-per-row-
          // stage text on both sides (prior rows were shaped by the
          // same chain when admitted).
          val mismatched = overlap
            .select(col(id), TA.fingerprint(col("text")).as("__graft_bfp"))
            .join(prior.select(col(id), TA.fingerprint(col("text")).as("__graft_pfp")),
              Seq(id))
            .filter(col("__graft_bfp") =!= col("__graft_pfp")).count()
          require(mismatched == 0,
            s"$mismatched batch row(s) reuse already-admitted ids with DIFFERENT " +
              "text — not a crash replay but an id-discipline violation; refusing " +
              "to treat them as admitted. Fix the producer to mint fresh ids.")
          out(s"replayed batch: ${overlap.count()} rows already admitted — " +
            "re-extending artifacts, re-admitting the remainder")
          // bootstrap first: appending recovery rows to an absent index
          // must not leave a partial artifact masquerading as complete
          ensureArtifacts()
          // every overlap row was kept, so only the indexes grow
          writeArtifacts(conf, artRoot.toString, DedupKinds.map(_ -> overlap).toMap,
            overlap, "append")
          shaped.join(prior.select(col(id)), Seq(id), "left_anti")
        }
    }

    ensureArtifacts()
    val afterExact = exactStage.fold(batchIn) { _ =>
      val survivors = Dedup.incrementalExactDedup(prior, batchIn, id, col("text"),
        corpusFps = Some(artifact("fp")))
      val next = Pins.checkpoint(
        batchIn.join(survivors.select(col(id)), Seq(id), "left_semi"), "corpus.admit.exact")
      out(f"stage dedup_exact rows=${next.count()}")
      next
    }
    val admitted = nearStage.fold(afterExact) { st =>
      // the verification text side covers everything the index covers:
      // the prior OUTPUT plus rows past increments near/semantic-
      // DROPPED (`near_dropped/`) — so a batch row transitively
      // duplicating a dropped row (B∼dropped D∼keeper K, without B∼K)
      // is verified against D's text and rejected, exactly as the
      // from-scratch union run rejects it via the transitive cluster
      val pairs = Dedup.incrementalNearDupPairs(
        withDropped(prior.select(col(id), col("text")), "near_dropped"),
        afterExact.select(col(id), col("text")), id, col("text"),
        n = st.nVal(3), threshold = st.thresholdVal(0.8),
        corpusIndex = Some(artifact("lsh")))
      // drop only BATCH members of each cluster: ingested rows are
      // immutable, and the cluster label is the component's min id, so
      // the restriction reproduces the from-scratch keeper when batch
      // ids sort after corpus ids
      val next = Pins.checkpoint(withoutClusterDups(afterExact, pairs, id), "corpus.admit.near")
      out(f"stage dedup_near rows=${next.count()}")
      next
    }

    val admittedSem = semStage.fold(admitted) { st =>
      val emb = embFrame.get
      val batchVecs = emb.join(admitted.select(col(id)), Seq(id), "left_semi")
      // vector lookup must cover every id the coslsh index holds — the
      // prior output plus past increments' semantically-dropped ids
      // (`sem_dropped/`; their vectors still live in the sidecar)
      val corpusVecs = emb.join(withDropped(prior.select(col(id)), "sem_dropped"),
        Seq(id), "left_semi")
      val pairs = graft.ops.Similarity.incrementalCosinePairs(
        corpusVecs, batchVecs, id, "__graft_vec", st.thresholdVal(0.4),
        corpusIndex = Some(artifact("coslsh")))
      val next = withoutClusterDups(admitted, pairs, id)
      out(f"stage dedup_semantic rows=${next.count()}")
      next
    }

    // truncate lineage before touching the target: the admitted frame
    // is O(batch) by design, and appending to a path the plan also
    // reads is only safe once the plan no longer reads it
    val batchOut = Pins.checkpoint(admittedSem, "corpus.admit.batchOut")
    batchOut.write.mode("append").parquet(priorDir)
    // extend the artifacts so the NEXT increment admits against the
    // updated corpus without reading its text (coverage and commit
    // order: see writeArtifacts)
    writeArtifacts(conf, artRoot.toString, Map("dedup_exact" -> batchIn,
      "dedup_near" -> afterExact, "dedup_semantic" -> admitted), batchOut, "append")
    // the completion marker commits LAST: its existence proves the
    // output append AND every artifact extension landed, so a replay
    // of this batch is a pure no-op (see the top of this method)
    marker.foreach(m => fs.create(m, true).close())
    val appended = batchOut.count()
    out(s"admitted $appended rows into $priorDir")
    appended
  }

  /** Compact an incremental-admission target: every `corpus run --into`
    * appends one more file group to the output parquet AND to each
    * artifact under `<output>.artifacts/` (and the transitive-coverage
    * artifacts accumulate duplicate rows by design) — after hundreds of
    * daily admissions that is the classic small-files problem on
    * exactly the tables every later admission reads. One pass rewrites
    * each directory to a few size-targeted files with duplicates
    * collapsed; admission SEMANTICS are unchanged (CliSpec: increments
    * → compact → next increment equals the uncompacted timeline), and
    * the batch completion markers are preserved. Rewriting the output
    * refreshes its modification time, so any `ArtifactCache`-keyed
    * artifact derived FROM it rebuilds on next use — the identity
    * convention working as designed (a stale key would be the bug).
    *
    * Each directory swaps via write-to-temp → rename-away → rename-in →
    * delete-old, so the vulnerable window is two filesystem metadata
    * ops, and a crash leaves both the old and new copies on disk.
    */
  def compact(spark: SparkSession, conf: CorpusPipelineConf,
              out: String => Unit, targetFileBytes: Long = 128L << 20,
              targetDir: Option[String] = None): Unit = {
    import org.apache.hadoop.fs.Path
    // `targetDir` mirrors run/stream's `--into`: an admission target
    // that differs from the config's output_dir (the CLI permits
    // `--into <prior>` anywhere) is compacted by naming it explicitly
    val target = targetDir.getOrElse(conf.outputDir)
    val fs = new Path(target).getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(target)), s"nothing to compact: $target does not exist")
    val id = conf.idCol

    def rewrite(dir: Path, dedup: DataFrame => DataFrame): Unit = {
      if (!fs.exists(new Path(dir, "_SUCCESS"))) return
      val before = fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
      val bytes = fs.getContentSummary(dir).getLength
      val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val df = dedup(spark.read.parquet(dir.toString)).repartition(files)
      val tmp = new Path(dir.getParent, dir.getName + ".compact-tmp")
      val old = new Path(dir.getParent, dir.getName + ".compact-old")
      df.write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(dir, old), s"compact: could not move $dir aside")
      require(fs.rename(tmp, dir), s"compact: could not move $tmp into place " +
        s"(previous data preserved at $old)")
      fs.delete(old, true)
      val after = fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
      out(s"compacted $dir: $before -> $after files")
    }

    // output rows are unique by the admission contract — rewrite only
    rewrite(new Path(target), identity)
    val artRoot = new Path(target + ".artifacts")
    if (fs.exists(artRoot)) {
      rewrite(new Path(artRoot, "fp"), _.distinct())
      // duplicate index rows (replay re-extension, transitive coverage)
      // collapse here; dropDuplicates keeps the parameter-stamp column
      // metadata the increments require
      rewrite(new Path(artRoot, "lsh"), _.dropDuplicates())
      rewrite(new Path(artRoot, "coslsh"), _.dropDuplicates())
      rewrite(new Path(artRoot, "near_dropped"), _.dropDuplicates(Seq(id)))
      rewrite(new Path(artRoot, "sem_dropped"), _.distinct())
    }
  }

  /** Streaming incremental admission: watch `input_dir` for JSONL
    * shards and run EACH micro-batch through the same artifact-backed
    * admission as [[runIncremental]] (`foreachBatch` — inside the batch
    * the full relational admission plan applies, the production shape
    * for stateful-vs-corpus logic a pure stream-stream operator can't
    * express). Micro-batches commit sequentially, each extending the
    * fingerprint/LSH artifacts the next admits against.
    *
    * Delivery: the checkpointed file source never re-delivers a
    * COMMITTED batch, and a batch replayed after a crash MID-admission
    * is made idempotent end to end by the per-batch completion marker
    * (`_batch-<checkpoint-hash>-<id>` under `<priorDir>.artifacts/`,
    * written as the LAST
    * step of admission): a marked batch is skipped outright, and an
    * unmarked replay first drops the rows whose corpus append already
    * committed (id anti-join against the prior output), re-extends the
    * indexes with exactly those rows (closing the crash window where
    * the output append landed but an artifact extension did not —
    * duplicate index rows are harmless, every consumer dedups), then
    * re-admits the remainder against the now-complete artifacts. The
    * mandatory `dedup_exact` stage (enforced below) keeps the
    * degenerate no-marker, no-crash replay a no-op as before.
    *
    * Starts (and returns) the query under the caller's trigger:
    * `Trigger.AvailableNow()` processes the backlog and stops; a
    * `Trigger.ProcessingTime(…)` is the continuous watcher of
    * `corpus stream … --continuous`, each new JSONL drop admitting as
    * its own micro-batch behind the same checkpoint. The caller owns
    * stop/awaitTermination.
    */
  def startStreamIncremental(spark: SparkSession, conf: CorpusPipelineConf,
                             priorDir: String, checkpointDir: String,
                             out: String => Unit,
                             trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireIncrementalChain(conf)
    require(conf.stages.exists(_.kind == "dedup_exact"),
      "streaming incremental admission requires a dedup_exact stage — it is " +
        "what makes a replayed micro-batch idempotent against the artifacts")
    val in = graft.ingest.Jsonl.readStream(spark, conf.inputDir, StreamSchema)
    out(s"streaming ${conf.inputDir} incrementally into $priorDir (ckpt $checkpointDir)")
    in.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val n = admitBatch(spark, conf, batch.drop("ts"), priorDir,
          s => out(s"[batch $batchId] $s"),
          streamBatchId = Some((checkpointDir, batchId)))
        out(s"[batch $batchId] committed $n rows")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** The corpus-exchange schema of the streaming ingest (JSONL lines
    * `{"doc_id": …, "text": …, "ts": …}`) — declared, never inferred.
    */
  val StreamSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))

  /** Streaming form of [[run]]: watch `input_dir` for JSONL files,
    * apply the configured STATELESS stages per micro-batch, admit
    * against the static corpus at `corpus_dir` when set (exact
    * fingerprint anti-join + in-stream dedup within the watermark,
    * [[graft.streaming.StreamingPipeline.admitStream]]) or plain
    * in-stream dedup otherwise, and append parquet under `output_dir`
    * exactly-once (checkpointed file tracking). Starts (and returns)
    * the query under the caller's trigger: `Trigger.AvailableNow()`
    * processes the backlog and stops, `Trigger.ProcessingTime` keeps
    * the query alive across JSONL drops; the caller owns stop/await.
    */
  def startStream(spark: SparkSession, conf: CorpusPipelineConf,
                  checkpointDir: String, corpusDir: Option[String],
                  watermark: String, out: String => Unit,
                  trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val badKinds = conf.stages.map(_.kind).filterNot(StreamableKinds.contains)
    require(badKinds.isEmpty,
      s"streaming chain admits only ${StreamableKinds.toSeq.sorted.mkString(", ")} — " +
        s"got: ${badKinds.mkString(", ")} (run stateful stages in batch `corpus run`)")
    val in = graft.ingest.Jsonl.readStream(spark, conf.inputDir, StreamSchema)
    val shaped = conf.stages.foldLeft(in)(applyStage(_, _, "doc_id", in, "text"))
    val admitted = corpusDir match {
      case Some(cd) =>
        graft.streaming.StreamingPipeline.admitStream(
          shaped, spark.read.parquet(graft.config.GraftConfig.substituteEnvVar(cd)),
          col("text"), "ts", watermark)
      case None =>
        graft.streaming.StreamingPipeline.dedupStream(
          shaped, Seq("text"), "ts", watermark)
    }
    out(s"streaming ${conf.inputDir} -> ${conf.outputDir} (ckpt $checkpointDir)")
    graft.streaming.StreamingPipeline
      .sink(admitted, conf.outputDir, checkpointDir, trigger)
      .start()
  }

  private def applyStage(df: DataFrame, st: CorpusStageConf, id: String,
                         source: DataFrame, textCol: String): DataFrame = {
    val text: Column = col("text")
    st.kind match {
      case "html_strip" =>
        // markup→prose extraction ahead of the text stages
        df.withColumn("text", TA.stripHtml(text))
      case "pii_scrub" =>
        df.withColumn("text", TA.scrubPii(text))
      case "gopher_filter" =>
        df.filter(TA.gopherPass(text))
      case "compression_filter" =>
        // drop low-entropy boilerplate: deflated/raw below the floor
        df.filter(call_function("graft_deflate_ratio", text) >=
          st.thresholdVal(0.25))
      case "c4_clean" =>
        c4CleanStage(df, text)
      case "quality_filter_trained" =>
        // fit the logistic quality classifier on an id-sliced sample of
        // THIS input (K aggregation-step gradient descent, Gopher-gate
        // labels), then keep docs scoring >= threshold — the weights
        // ride the plan as literals, so the filter itself is narrow
        val wq = graft.ops.QualityModel.fit(df, col(id), text,
          sampleMod = st.sampleModVal(graft.ops.QualityModel.DefaultSampleMod),
          steps = st.nVal(graft.ops.QualityModel.DefaultSteps))
        val thresholdQ = math.round(
          st.thresholdVal(0.5) * 1000000.0)
        val feats = graft.ops.QualityModel.featureCols(text)
        val scored = df.select(col("*") +:
          feats.zipWithIndex.map { case (c, j) => c.as(s"f$j") }: _*)
        scored.filter(graft.ops.QualityModel.scoreQ(wq) >= lit(thresholdQ))
          .drop((0 until graft.ops.QualityModel.Dim).map(j => s"f$j"): _*)
      case "perplexity_filter" =>
        // CCNet tiering: keep the most fluent `keep` of the 3
        // per-language perplexity terciles under the corpus-trained
        // LM (default 1 = head only). `model: kn_bigram` swaps the
        // add-one unigram scorer for the Kneser-Ney bigram LM (the
        // real KenLM smoothing; docs with <2 tokens have no bigrams
        // under it and drop with the tail).
        val keepTiers = st.keepVal.getOrElse(1L)
        require(keepTiers >= 1 && keepTiers <= 3,
          s"perplexity_filter keep must be 1..3 terciles, got $keepTiers")
        val scorer = st.model match {
          case None | Some("unigram") => graft.ops.Vocab.unigramLogProb _
          case Some("kn_bigram") =>
            (d: DataFrame, i: String, t: Column) =>
              graft.ops.Vocab.knBigramLogProb(d, i, t)
          case Some(other) => throw new IllegalArgumentException(
            s"perplexity_filter model must be 'unigram' or 'kn_bigram', got '$other'")
        }
        val allowed = Seq("head", "middle", "tail").take(keepTiers.toInt)
        val sel = graft.ops.Vocab
          .perplexityBuckets(df, id, text, TA.langId(text), scorer)
          .filter(col("bucket").isin(allowed: _*)).select(col(id))
        df.join(sel, Seq(id), "left_semi")
      case "decontaminate_spans" =>
        val srcVal = st.benchmark_source.getOrElse(throw new IllegalArgumentException(
          "decontaminate_spans needs benchmark_source"))
        require(df.columns.contains("source"),
          "decontaminate_spans must run before any stage that drops the source column")
        val bench = source.filter(col("source") === srcVal)
        Dedup.decontaminationScrub(
            df.filter(col("source").isNull || col("source") =!= srcVal),
            id, text, bench, col(textCol), st.nVal(3))
          .select(col("doc").as(id), col("scrubbed").as("text"))
      case "scrub_exact_substr" =>
        // ExactSubstr span REMOVAL (Lee et al. 2021): every n-token
        // span occurring >= min_count times corpus-wide is cut from
        // its documents; text rebuilt, other columns carried
        val rebuilt = Dedup.exactSubstrScrub(df, id, text,
            st.nVal(8), st.minCountVal(2))
          .select(col("doc").as(id), col("scrubbed").as("__graft_rebuilt"))
        df.drop("text").join(rebuilt, Seq(id))
          .withColumnRenamed("__graft_rebuilt", "text")
      case "line_dedup" =>
        // C4/CCNet cross-doc boilerplate removal: lines appearing in
        // >= n docs are cut from every doc (default 5), text rebuilt;
        // join-back keeps the frame's other columns (e.g. source)
        val rebuilt = Dedup.lineDedup(df, id, text, st.nVal(5))
          .select(col("doc").as(id), col("text").as("__graft_rebuilt"))
        df.drop("text").join(rebuilt, Seq(id))
          .withColumnRenamed("__graft_rebuilt", "text")
      case "line_dedup_within" =>
        // C4's within-page rule: in-doc repeats cut, first kept
        val rebuilt = Dedup.lineDedupWithinDoc(df, id, text)
          .select(col("doc").as(id), col("text").as("__graft_rebuilt"))
        df.drop("text").join(rebuilt, Seq(id))
          .withColumnRenamed("__graft_rebuilt", "text")
      case "dedup_exact" =>
        val fp = df.select(col(id), TA.fingerprint(text).as("__graft_fp"))
        val keepIds = fp.groupBy(col("__graft_fp")).agg(min(col(id)).as(id))
          .select(col(id))
        df.join(keepIds, Seq(id), "left_semi")
      case "dedup_near" =>
        withoutClusterDups(df, Dedup.ngramJaccardPairs(df, id, text,
          st.nVal(3), st.thresholdVal(0.8), dfOrder = true), id)
      case "dedup_semantic" =>
        // SemDeDup over a sidecar embedding table: vectors join onto
        // the surviving docs by id, near-identical embedding pairs
        // cluster, and each cluster keeps one member (min id)
        val vecs = sidecarVectors(df.sparkSession, st, "doc_id")
          .join(df.select(col(id).as("doc_id")), Seq("doc_id"))
        val pairs = graft.ops.Similarity.semanticDedupPairs(
          vecs, "doc_id", "__graft_vec",
          st.thresholdVal(0.4), sampleMod = st.sampleModVal(1))
        withoutClusterDups(df, pairs, id)
      case "dedup_phash" | "dedup_audio_fp" =>
        // media near-dup dedup over a (media_id, media, media_type)
        // sidecar — the pixel/sample-space analog of dedup_near:
        // 64-bit perceptual (image) or acoustic (audio) hashes from
        // the real codec, the SAME 4-band Hamming bucketing
        // (exhaustive for max_distance ≤ 3), connected components keep
        // min id. Docs without media pass through, like dedup_semantic.
        val mediaDir = st.media_dir.getOrElse(throw new IllegalArgumentException(
          s"${st.kind} needs media_dir"))
        val media = df.sparkSession.read
          .parquet(graft.config.GraftConfig.substituteEnvVar(mediaDir))
          .select(col(st.media_id_column.getOrElse("media_id")).as("media_id"),
            col("media"), col("media_type"))
          .join(df.select(col(id).as("media_id")), Seq("media_id"))
        val mk: () => graft.ops.MediaCodec = () => new graft.ops.NetpbmWavCodec()
        val hashes =
          if (st.kind == "dedup_audio_fp") graft.ops.Multimodal.audioFingerprint(media, codec = mk)
          else graft.ops.Multimodal.perceptualHash(media, codec = mk)
        val phPairs = graft.ops.Multimodal.phashPairs(hashes,
          maxDistance = st.maxDistanceVal(3))
        withoutClusterDups(df, phPairs, id)
      case "diversify" =>
        // D4 cluster-prototype pruning (Tirumala et al. 2023) over the
        // same sidecar embedding convention as dedup_semantic: cluster
        // the surviving docs' vectors, drop each cluster's most
        // prototypical drop_frac. Docs with no embedding pass through
        // (left_anti on the drop list), matching dedup_semantic.
        val vecs = sidecarVectors(df.sparkSession, st, "doc_id")
          .join(df.select(col(id).as("doc_id")), Seq("doc_id"))
        val verdicts = graft.ops.Similarity.diversify(
          vecs, "doc_id", "__graft_vec", st.dropFracVal(0.25),
          nCentroids = st.nVal(0), sampleMod = st.sampleModVal(1))
        val protoDrops = verdicts.filter(col("action") === "dropped")
          .select(col("doc").as(id))
        df.join(protoDrops, Seq(id), "left_anti")
      case "cluster_balance" =>
        // topic-balanced sampling over the same sidecar-embedding
        // convention: each embedding cell downsampled to the smallest
        // cell's mass; docs without an embedding pass through
        val vecs = sidecarVectors(df.sparkSession, st, "doc_id")
          .join(df.select(col(id).as("doc_id")), Seq("doc_id"))
        val keptIds = graft.ops.Similarity.clusterBalancedSample(
          vecs, "doc_id", "__graft_vec",
          nCentroids = st.nVal(0), sampleMod = st.sampleModVal(1))
          .select(col("doc").as(id))
        val balanceDrops = vecs.select(col("doc_id").as(id))
          .join(keptIds, Seq(id), "left_anti")
        df.join(balanceDrops, Seq(id), "left_anti")
      case "quality_rep_dedup" =>
        val labeled = Dedup.clusterRepresentatives(
          Dedup.ngramJaccardPairs(df, id, text,
            st.nVal(3), st.thresholdVal(0.8), dfOrder = true),
          df.select(col(id).as("doc_id"), TA.qualityScore(text).as("__graft_q")),
          "doc_id", "__graft_q")
        val drops = labeled.filter(col("doc_id") =!= col("rep_id"))
          .select(col("doc_id").as(id))
        df.join(drops, Seq(id), "left_anti")
      case "source_cap" =>
        // RefinedWeb-style frequency cap: no group over max_share of
        // the stage input; over-cap groups keep the lowest id-hashes
        val grp = st.group_by.getOrElse("source")
        require(df.columns.contains(grp),
          s"source_cap group_by column '$grp' is not in the frame " +
            s"(${df.columns.mkString(", ")})")
        Sampling.capPerGroup(df, col(grp), col(id), st.maxShareVal(0.1))
      case "doremi_mix" =>
        // DoReMi-style mixture reweighting applied as a downsample:
        // EG rounds (n, default 4) on per-domain excess loss under the
        // corpus unigram LM, then per-domain keep rates ∝ target/current
        // token share with a per-mille hash verdict (ops/DomainReweight)
        val grp = st.group_by.getOrElse("source")
        require(df.columns.contains(grp),
          s"doremi_mix group_by column '$grp' is not in the frame " +
            s"(${df.columns.mkString(", ")})")
        graft.ops.DomainReweight.doremiMix(df, col(id), col(grp), text, st.nVal(4))
      case "keyword_filter" =>
        // C4 §2.2 lexical blocklist page gate: drop docs containing
        // any blocked token as a whole word — one codegen'd regex
        // alternation, narrow (the deployment supplies its own list).
        // coalesce: null text yields a NULL verdict and filter(!NULL)
        // would silently drop the row — only positive evidence blocks,
        // the same convention as url_filter
        df.filter(!coalesce(TA.keywordHit(text, st.block_tokens.getOrElse(
          throw new IllegalArgumentException("keyword_filter needs block_tokens"))),
          lit(false)))
      case "url_filter" =>
        // UT1/RefinedWeb-style URL gate over the crawl frame's `url`
        // column (WARC input carries it): blocked hosts/path-tokens
        // baked into a codegen'd expression — narrow, runs at scan
        // speed before any text work
        require(df.columns.contains("url"),
          "url_filter needs a url column (use input_format: warc, or project one)")
        // coalesce: a null url yields a NULL verdict, and filter(!NULL)
        // would silently drop the row — url-less docs must pass the
        // gate (only positive evidence blocks), same convention as
        // media-less docs in dedup_phash
        df.filter(!coalesce(TA.urlBlocked(TA.normalizeUrl(col("url")),
          st.block_domains.getOrElse(Nil), st.block_tokens.getOrElse(Nil)),
          lit(false)))
      case "url_dedup" =>
        // canonical-URL exact dedup: normalize, keep the min-id row
        // per canonical URL — the first dedup of any crawl (same
        // min-id convention as dedup_exact, keyed on the URL)
        require(df.columns.contains("url"),
          "url_dedup needs a url column (use input_format: warc, or project one)")
        // null-url docs can't be URL-keyed — they pass through rather
        // than vanish into the null-never-equals semi-join
        val withUrl = df.filter(col("url").isNotNull)
        val noUrl = df.filter(col("url").isNull)
        val withUn = withUrl.withColumn("__graft_un", TA.normalizeUrl(col("url")))
        val keeper = withUn.groupBy(col("__graft_un")).agg(min(col(id)).as(id))
        withUn.join(keeper, Seq("__graft_un", id), "left_semi").drop("__graft_un")
          .unionByName(noUrl)
      case "pagerank_select" =>
        // harvest-rank the crawl by link structure before spending on
        // curation: damped PageRank over the (src, dst) edge sidecar,
        // keep the top budget_frac of docs by (rank desc, id) via the
        // offset-table global rank (no single-partition window)
        val edgesDir = st.edges_dir.getOrElse(throw new IllegalArgumentException(
          "pagerank_select needs edges_dir"))
        val edges = df.sparkSession.read
          .parquet(graft.config.GraftConfig.substituteEnvVar(edgesDir))
          .select(col("src"), col("dst"))
        val ranks = graft.ops.LinkGraph.pageRank(
          df.select(col(id).as("id")), edges, iters = st.nVal(5))
        // count the CHECKPOINTED rank frame (one row per doc), not df —
        // counting df here would re-run the whole upstream stage chain
        val nKeep = math.max(1L,
          (st.budgetFracVal(0.5) * ranks.count()).toLong)
        val kept = Sampling.globalRank(
            ranks.withColumnRenamed("rank", "__graft_pr").withColumnRenamed("id", id),
            Seq(col("__graft_pr").desc, col(id).asc))
          .filter(col("rank") <= nKeep)
          .select(col(id))
        df.join(kept, Seq(id), "left_semi")
      case "holdout_split" =>
        // deterministic 90/5/5 labels; a pure per-row hash, so shards
        // admitted later get consistent labels with zero coordination
        graft.ops.Splits.splitAssign(df, col(id), salt = st.salt.getOrElse(""))
      case "leakage_quarantine" =>
        // evict the eval-side member of every cross-split near-dup
        // pair (train never leaves) — restores the no-overlap
        // invariant a holdout_split stage promises
        require(df.columns.contains("split"),
          "leakage_quarantine needs the split column — run holdout_split first")
        val evict = graft.ops.Splits.quarantine(
            Dedup.ngramJaccardPairs(df, id, text, st.nVal(3), st.thresholdVal(0.8),
              dfOrder = true),
            df.select(col(id), col("split")), id)
          .select(col(id))
        df.join(evict, Seq(id), "left_anti")
      case "stratified_sample" =>
        Sampling.stratifiedSample(
            df.withColumn("__graft_lang", TA.langId(text)),
            col(id), col("__graft_lang"),
            st.ratesVal, st.defaultRateVal(1.0))
          .drop("__graft_lang")
      case "mixture_temperature" =>
        Sampling.temperatureMixture(
            df.withColumn("__graft_lang", TA.langId(text)),
            col(id), col("__graft_lang"), st.alphaVal(0.5))
          .drop("__graft_lang")
      case "budget_select" =>
        val budget = st.budgetTokensVal.getOrElse(throw new IllegalArgumentException(
          "budget_select needs budget_tokens"))
        val sel = Sampling.budgetSelect(df, col(id),
            TA.qualityScore(text), TA.tokenCount(text), budget)
          .select(col("doc_id").as(id))
        df.join(sel, Seq(id), "left_semi")
      case "curriculum_rank" =>
        val ranked = Sampling.globalRank(
          df.withColumn("__graft_q", TA.qualityScore(text)),
          Seq(col("__graft_q").desc, col(id).asc)).drop("__graft_q")
        st.keepVal.fold(ranked)(k => ranked.filter(col("rank") <= k))
      case "dsir_select" =>
        // DSIR (Xie et al. 2023): keep the `keep` docs whose
        // hashed-n-gram distribution best matches the target corpus —
        // deterministic Gumbel top-k over quantized importance
        // weights (sampling-without-replacement ∝ weight). Target is
        // an external curated parquet (`target_dir`) or the input
        // slice whose guessed language matches `target_lang`.
        val k = st.keepVal.getOrElse(throw new IllegalArgumentException(
          "dsir_select needs keep (the number of documents to select)"))
        val target = (st.target_dir, st.target_lang) match {
          case (Some(dir), None) =>
            df.sparkSession.read
              .parquet(graft.config.GraftConfig.substituteEnvVar(dir))
              .select(col(textCol).as("text"))
          case (None, Some(lang)) =>
            df.filter(TA.langId(text) === lang).select(text)
          case _ => throw new IllegalArgumentException(
            "dsir_select needs exactly one of target_dir / target_lang")
        }
        val sel = graft.ops.Selection.dsirSelect(df.select(col(id), text),
            target, col(id), text, k.toInt,
            st.nVal(graft.ops.Selection.DefaultBuckets))
          .select(col(id))
        df.join(sel, Seq(id), "left_semi")
      case "chunk" =>
        // honor a custom id_column in the artifact, and carry a
        // curriculum `rank` through to the chunks (the whole point of
        // ranking before chunking) on each doc's own row, not by a join
        // back whose build side, and so the chunks' order, would follow
        // the planner's size estimate of the ranked frame
        Sampling.chunkTokens(df, col(id), text,
            st.windowVal(64), st.strideVal(st.windowVal(64)),
            carry = Seq("rank").filter(df.columns.contains))
          .withColumnRenamed("doc_id", id)
      case "epoch_mix" =>
        // terminal: the epoch-expanded (id, stratum, copy_idx) manifest
        // a training loader consumes — strata are language guesses,
        // target shares come from `rates`, small strata REPEAT up to
        // max_repeat epochs (config field reuse: `rates` is the same
        // map stratified_sample takes; `n` caps the repeats).
        // `weight: tokens` targets the shares in TOKEN mass — the
        // composition a training mix actually specifies — instead of
        // the doc-count default.
        require(st.ratesVal.nonEmpty, "epoch_mix needs target rates")
        val w = st.weight match {
          case Some("tokens") => TA.tokenCount(text)
          case Some("docs") | None => lit(1L)
          case Some(other) => throw new IllegalArgumentException(
            s"epoch_mix weight must be 'docs' or 'tokens', got '$other'")
        }
        Sampling.epochMixture(
            df.withColumn("__graft_lang", TA.langId(text)),
            col(id), col("__graft_lang"), st.ratesVal,
            maxRepeat = st.nVal(10).toDouble, weight = w)
          .withColumnRenamed("doc_id", id)
      case "pack" =>
        val packed = Sampling.packSequences(df, col(id), TA.tokenCount(text),
            st.shardsVal(8), st.windowVal(2048))
          .withColumnRenamed("pack_id", id)
        if (df.columns.contains("rank"))
          packed.join(df.select(col(id), col("rank")), Seq(id))
        else packed
      case "unimax_mix" =>
        // terminal: UniMax waterfill (budget_frac of the corpus's
        // weight, max_epochs repeat cap) applied as the (id, stratum,
        // copy_idx) manifest; weight defaults to TOKEN mass — the
        // paper's unit — `weight: docs` counts docs instead
        val w = st.weight match {
          case Some("tokens") | None => TA.tokenCount(text)
          case Some("docs") => lit(1L)
          case Some(other) => throw new IllegalArgumentException(
            s"unimax_mix weight must be 'docs' or 'tokens', got '$other'")
        }
        Sampling.uniMaxManifest(
            df.withColumn("__graft_lang", TA.langId(text)),
            col(id), col("__graft_lang"), w,
            st.budgetFracVal(0.9), st.maxEpochsVal(2.0))
          .withColumnRenamed("doc_id", id)
      case "tokenize_unigram" =>
        // terminal: per-doc token counts under a unigram-LM
        // (SentencePiece-style) tokenizer TRAINED ON THIS INPUT
        // (hard-EM Viterbi rounds, ops/UnigramLm) — the budget unit a
        // training loader's manifest consumes; `n` caps trainable word
        // length (longer words char-fallback)
        graft.ops.UnigramLm.encodeTokenCounts(df, id, text,
          graft.ops.UnigramLm.Config(maxWordLen = st.nVal(10)))
    }
  }

  /** `df` without the non-keeper members (all but the min id) of each
    * connected cluster of the duplicate `pairs`.
    */
  private def withoutClusterDups(df: DataFrame, pairs: DataFrame, id: String): DataFrame =
    df.join(Dedup.clusterDropList(Dedup.nearDupClusters(pairs)).withColumnRenamed("doc_id", id),
      Seq(id), "left_anti")

  /** The C4 page clean as a frame stage: filter pages by the gate over
    * the raw lines, then rewrite `text` to the surviving lines — pure
    * narrow per-row HOFs, so it is streamable and
    * incremental-admission-safe (deterministic text rewrite before any
    * dedup keys are hashed, same class as pii_scrub).
    */
  private def c4CleanStage(df: DataFrame, text: Column): DataFrame = {
    val lines = split(text, "\n")
    df.filter(TA.c4PagePass(lines, TA.c4KeepLines(lines)))
      .withColumn("text", concat_ws("\n", TA.c4KeepLines(split(text, "\n"))))
  }
}
