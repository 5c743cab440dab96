package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Domain-mixture reweighting, DoReMi-style (Xie et al. 2023,
  * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
  * Pretraining"): exponentiated-gradient ascent upweights the domains
  * with the highest EXCESS loss under a reference model, yielding the
  * mixture a group-DRO proxy training would choose — the published
  * move for deciding how much of each source a 100 TB corpus should
  * contribute, BEFORE burning GPU-time on the wrong mix.
  *
  * This implementation replaces DoReMi's trained proxy with the
  * engine's corpus LM (the add-one unigram model every perplexity
  * operator shares): excess loss is the domain's per-token NLL above
  * the current-mixture-weighted mean, and K EG rounds
  * `w ← normalize(w · exp(η · excess))` run on the DOMAIN table — tiny
  * by construction (one row per source), so the rounds are exact
  * integer arithmetic on driver-collected scalars, the same
  * bounded-collect contract as the BPE top-1 and Lloyd steps.
  *
  * Cross-engine exactness: the per-domain loss uses the repo's proven
  * decimal-stabilized discipline (ln in double, SUM in DECIMAL(18,3),
  * divide in double — bit-identical across engines and partitionings),
  * then quantizes to micro-nats with `floor`. Weights live in integer
  * parts-per-1e9; the only transcendental per round is
  * `floor(exp(η·excess)·1e6)` — the [[QualityModel]] sigmoid-quantum
  * discipline. Renormalization is integer division, so round K's
  * weights are bit-exact against the oracle's unrolled CTEs.
  *
  * Scale shape: ONE tokenize+count shuffle over the corpus builds the
  * LM and the per-domain stats (map-side-combined aggregations); the
  * EG rounds touch #domains rows. Nothing corpus-sized crosses the
  * driver.
  */
object DomainReweight {

  /** Weights are integer parts-per-1e9. */
  val WScale: Long = 1000000000L

  /** Losses are integer micro-nats per token. */
  val LScale: Long = 1000000L

  /** EG step: η = EtaNum/EtaDen (0.1 — small enough that a multi-nat
    * excess cannot overflow the integer weight domain in one round).
    */
  val EtaNum: Long = 1L
  val EtaDen: Long = 10L

  /** Per-domain stats under the corpus add-one unigram LM:
    * (domain, n_tokens, loss_q) with loss_q = floor(1e6 · per-token
    * NLL). One wordcount shuffle + one stats aggregation.
    */
  def domainStats(df: DataFrame, domain: Column, text: Column): DataFrame = {
    val toks = df.select(domain.as("domain"),
        explode(TextAnalysis.tokens(text)).as("token"))
      .filter(col("token") =!= "")
    // r20: model feeds the totals aggregate AND the scoring join — pin
    // once (vocabulary-sized), same as Vocab.unigramLogProb
    val model = Pins.checkpoint(
      toks.groupBy(col("token")).agg(count(lit(1)).as("c")), "reweight.model")
    val totals = model.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v"))
    toks.join(model, Seq("token"))
      .crossJoin(broadcast(totals))
      .select(col("domain"),
        log((col("c") + 1).cast("double") /
          (col("n_total") + col("v")).cast("double")).as("lp"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_tokens"),
        floor(lit(-1000000.0) *
          (sum(col("lp").cast("decimal(18,3)")).cast("double") /
            count(lit(1)).cast("double"))).cast("long").as("loss_q"))
  }

  /** K EG rounds from uniform; returns (domain, n_tokens, loss_q,
    * w_q) with w_q the round-K mixture weight in WScale units.
    */
  def doremiWeights(df: DataFrame, domain: Column, text: Column,
                    rounds: Int = 4): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = df.sparkSession
    // one row per domain — bounded by construction
    val stats = domainStats(df, domain, text).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "doremiWeights needs a non-empty corpus")
    val k = stats.length
    var q = Array.fill(k)(WScale / k)
    for (_ <- 1 to rounds) {
      // mixture-weighted mean loss, exact: Σ qᵢ·lqᵢ // 1e9
      val m = stats.indices.map(i => q(i) * stats(i)._3).sum / WScale
      val u = stats.indices.map { i =>
        val excess = math.max(stats(i)._3 - m, 0L)
        // floor(exp(η·excess)·1e6): the one transcendental per round
        val f = math.floor(math.exp(
          excess.toDouble / (LScale * EtaDen / EtaNum).toDouble) * 1000000.0).toLong
        q(i) * f
      }
      val d = u.sum / WScale
      q = u.map(_ / d).toArray
    }
    val rows = stats.indices.map(i =>
      Row(stats(i)._1, stats(i)._2, stats(i)._3, q(i)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("source", StringType, nullable = false),
        StructField("n_tokens", LongType, nullable = false),
        StructField("loss_q", LongType, nullable = false),
        StructField("w_q", LongType, nullable = false))))
  }

  /** Apply the round-K weights as a deterministic RESAMPLE: per-domain
    * keep rate ∝ target-over-current token share (w_d / s_d),
    * normalized so the largest rate is exactly 1 — pure downsampling
    * (upsampling is epoch_mix's job). The ratio arithmetic runs in
    * BigInt on the driver-side domain table (w_q · Σtokens overflows
    * Long at real corpus sizes), mirrored by the oracle's HUGEINT; the
    * corpus-side verdict is the engine-wide per-mille hash threshold —
    * stateless, narrow, reproducible across engines and reruns.
    */
  def doremiMix(df: DataFrame, id: Column, domain: Column, text: Column,
                rounds: Int = 4): DataFrame = {
    val w = doremiWeights(df, domain, text, rounds).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    val tot = w.map(x => BigInt(x._2)).sum
    val ratios = w.map { case (d, nTok, wq) => (d, BigInt(wq) * tot / nTok) }
    val maxRatio = ratios.map(_._2).max
    val rates = ratios.map { case (d, r) => (d, (r * 1000 / maxRatio).toLong) }
    val spark = df.sparkSession
    val rateDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rates.toSeq.map(t => Row(t._1, t._2)), 1),
      StructType(Seq(
        StructField("__graft_domain", StringType, nullable = false),
        StructField("__graft_rate", LongType, nullable = false))))
    df.withColumn("__graft_domain", domain)
      .join(broadcast(rateDf), Seq("__graft_domain"))
      .filter(Sampling.hashPermille(id) < col("__graft_rate"))
      .drop("__graft_domain", "__graft_rate")
  }

  /** Oracle mirror of [[doremiMix]]'s selection: the weights statement
    * wrapped as a CTE, ratio/rate arithmetic in HUGEINT, per-mille
    * hash verdict per row. Emits (idCol, domainCol) of the survivors.
    */
  def doremiMixSql(idCol: String, domainCol: String, x: String,
                   rel: String = "documents", rounds: Int = 4): String =
    s"""WITH wt AS MATERIALIZED (SELECT * FROM (
       |${doremiWeightsSql(domainCol, x, rel, rounds)}) t),
       |tot AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS t FROM wt),
       |rat AS (SELECT source, (CAST(w_q AS HUGEINT) * (SELECT t FROM tot))
       |    // CAST(n_tokens AS HUGEINT) AS ratio FROM wt),
       |mx AS (SELECT max(ratio) AS m FROM rat),
       |rates AS (SELECT source, CAST((ratio * 1000) // (SELECT m FROM mx) AS BIGINT) AS rate FROM rat)
       |SELECT d.$idCol, d.$domainCol FROM $rel d
       |JOIN rates ON rates.source = d.$domainCol
       |WHERE ${Sampling.hashPermilleSql(s"d.$idCol")} < rate""".stripMargin

  /** The oracle mirror: domain stats + K rounds unrolled as CTEs over
    * the (tiny) domain table — the same integer/double operation
    * sequence as [[doremiWeights]].
    */
  def doremiWeightsSql(domainCol: String, x: String,
                       rel: String = "documents", rounds: Int = 4): String = {
    require(rounds >= 1, s"doremiWeightsSql unrolls rounds, needs rounds >= 1 (got $rounds)")
    val eta = LScale * EtaDen / EtaNum
    val roundCtes = (1 to rounds).map { t =>
      s"""m$t AS (SELECT CAST(sum(w.q * ds.loss_q) AS BIGINT) // ${WScale} AS m
         |  FROM w${t - 1} w JOIN ds USING (domain)),
         |u$t AS (SELECT w.domain,
         |    w.q * CAST(floor(exp(CAST(greatest(ds.loss_q - (SELECT m FROM m$t), 0) AS DOUBLE)
         |      / ${eta}.0) * 1000000.0) AS BIGINT) AS u
         |  FROM w${t - 1} w JOIN ds USING (domain)),
         |w$t AS (SELECT domain,
         |    CAST(u // ((SELECT CAST(sum(u) AS BIGINT) FROM u$t) // ${WScale}) AS BIGINT) AS q
         |  FROM u$t)""".stripMargin
    }.mkString(",\n")
    raw"""WITH toks AS (SELECT $domainCol AS domain,
         |    unnest(regexp_split_to_array(lower(trim($x)), '\s+')) AS token FROM $rel),
         |tk AS MATERIALIZED (SELECT domain, token FROM toks WHERE token != ''),
         |model AS MATERIALIZED (SELECT token, count(*) AS c FROM tk GROUP BY 1),
         |tots AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM model),
         |ds AS MATERIALIZED (SELECT domain, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(floor(-1000000.0 * (CAST(SUM(CAST(
         |      ln(CAST(m.c + 1 AS DOUBLE) / CAST((SELECT n_total FROM tots) + (SELECT v FROM tots) AS DOUBLE))
         |      AS DECIMAL(18,3))) AS DOUBLE) / CAST(count(*) AS DOUBLE))) AS BIGINT) AS loss_q
         |  FROM tk JOIN model m USING (token) GROUP BY 1),
         |w0 AS (SELECT domain, CAST(${WScale} // (SELECT count(*) FROM ds) AS BIGINT) AS q FROM ds),
         |$roundCtes
         |SELECT ds.domain AS source, ds.n_tokens, ds.loss_q, w$rounds.q AS w_q
         |FROM ds JOIN w$rounds USING (domain)""".stripMargin
  }
}
