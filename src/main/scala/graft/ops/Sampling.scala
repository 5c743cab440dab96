package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for training-data pipelines: deterministic
  * stratified sampling (data mixing / language rebalancing) and
  * per-stratum top-k selection (quality-based curation).
  *
  * Both are pure narrow/window transformations — no driver state, no
  * RNG: sampling decisions hash the row's own id, so they are stable
  * across re-runs, executors and engines (md5-based, DuckDB-mirrorable)
  * — the property that makes a 100 TB sampling job resumable and its
  * output reproducible.
  */
object Sampling {

  /** Per-mille hash bucket of an id: deterministic, cross-engine (md5
    * of the id's decimal string via [[TextAnalysis.md5PrefixLong]]).
    * 8 hex chars = 2^32 inputs to the mod — the residual non-uniformity
    * from 2^32 % 1000 != 0 is ~2e-8 relative per bucket, versus ~1.5%
    * had the mod run over 4 chars (65536 % 1000 = 536 buckets would be
    * systematically heavier).
    */
  private[graft] def hashPermille(id: Column): Column =
    TextAnalysis.md5PrefixLong(id.cast("string"), 8) % 1000

  private[graft] def hashPermilleSql(id: String): String =
    s"${TextAnalysis.md5PrefixLongSql(s"CAST($id AS VARCHAR)", 8)} % 1000"

  /** Keep each row with a per-stratum probability: rows whose id-hash
    * per-mille falls below `rates(stratum) * 1000` survive. The
    * canonical corpus-mixing move — e.g. downsample the dominant
    * language while keeping the tail at 100% — as one stateless filter:
    * every executor decides from the row alone, nothing is shuffled,
    * and the same row always gets the same verdict.
    */
  def stratifiedSample(df: DataFrame, id: Column, stratum: Column,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    // round, don't truncate: 0.7 * 1000 is 699.999… in binary floating
    // point, and .toInt would silently shift the rate one permille below
    // any decimal-arithmetic mirror of the same threshold
    def permilleOf(r: Double) = math.round(r * 1000).toInt
    val permille = rates.foldLeft(lit(permilleOf(defaultRate))) {
      case (acc, (k, r)) => when(stratum === lit(k), lit(permilleOf(r))).otherwise(acc)
    }
    df.filter(hashPermille(id) < permille)
  }

  /** Frequency cap (RefinedWeb-style domain capping, Penedo et al.
    * 2023; Dolma's per-domain caps): no single group — source, domain,
    * site — may contribute more than `maxShare` of the INPUT's rows.
    * Groups under the cap keep everything; groups over it keep a
    * deterministic uniform subsample (the lowest id-hashes), so the
    * kept set is stable across reruns and engines and a re-crawled
    * heavy domain cannot silently take over the corpus.
    *
    * Shape: the global total is a 1-row aggregate broadcast back via
    * cross-join (never a driver collect); ranking within a group is the
    * standard window top-k — one shuffle on the group key. At 100 TB
    * the group key (domain) has huge cardinality, so partitions stay
    * balanced; a single pathological domain is exactly what the cap
    * then truncates.
    */
  def capPerGroup(df: DataFrame, group: Column, id: Column,
                  maxShare: Double): DataFrame = {
    require(maxShare > 0 && maxShare <= 1, "maxShare must be in (0, 1]")
    val rnk = "__graft_cap_rnk"
    val tot = "__graft_cap_total"
    val total = df.agg(count(lit(1)).as(tot))
    // cap = ceil(maxShare * total): double product of an exact-in-double
    // long — same single rounding in the SQL mirror, so engines agree
    df.withColumn(rnk,
        row_number().over(Window.partitionBy(group).orderBy(hashPermilleFine(id), id.asc)))
      .crossJoin(broadcast(total))
      .filter(col(rnk) <= greatest(lit(1L), ceil(lit(maxShare) * col(tot)).cast("long")))
      .drop(rnk, tot)
  }

  /** SQL mirror of [[capPerGroup]] as a full SELECT over `relation`,
    * emitting `cols`. `maxShare` is embedded via Double.toString so
    * both engines parse the identical double.
    */
  def capPerGroupSql(relation: String, cols: Seq[String], groupCol: String,
                     idCol: String, maxShare: Double): String = {
    val sel = cols.mkString(", ")
    s"""WITH tot AS (SELECT count(*) AS total FROM $relation),
       |r AS (SELECT $sel, row_number() OVER (PARTITION BY $groupCol
       |  ORDER BY ${hashPermilleFineSql(idCol)}, $idCol ASC) AS rnk FROM $relation)
       |SELECT $sel FROM r, tot
       |WHERE rnk <= greatest(1, CAST(ceil(${maxShare.toString} * total) AS BIGINT))""".stripMargin
  }

  /** Full-resolution hash rank (no mod): the uniform-order key for
    * subsampling ranks, where [[hashPermille]]'s 1000 buckets would tie
    * whole groups and push the decision onto the id tiebreak.
    */
  private[graft] def hashPermilleFine(id: Column): Column =
    TextAnalysis.md5PrefixLong(id.cast("string"), 8)

  private[graft] def hashPermilleFineSql(id: String): String =
    TextAnalysis.md5PrefixLongSql(s"CAST($id AS VARCHAR)", 8)

  /** Top `k` rows per stratum by `score` (descending), deterministic
    * under ties via ascending `id`. One shuffle on the stratum key; the
    * per-partition sort is the standard window top-k that survives any
    * corpus size as long as strata are numerous relative to executors
    * (skewed single-stratum corpora should pre-split the stratum).
    */
  def topKPerStratum(df: DataFrame, stratum: Column, score: Column,
                     id: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // collision-safe temp name: a caller's own "rnk" column (e.g. an
    // upstream ranking step) must survive untouched
    val rnk = "__graft_rnk"
    df.withColumn(rnk,
        row_number().over(Window.partitionBy(stratum).orderBy(score.desc, id.asc)))
      .filter(col(rnk) <= k)
      .drop(rnk)
  }

  /** Mixture rebalancing: sample each stratum so the OUTPUT composition
    * matches `shares` (target fractions, e.g. en→0.5, de→0.3, fr→0.2)
    * while keeping the maximum data possible — the corpus-mixing move
    * when the target is a composition, not per-stratum rates. Strata
    * absent from `shares` are dropped.
    *
    * Math: with stratum counts c_s and target shares w_s, the largest
    * total T with w_s·T ≤ c_s for every s is T = min_s(c_s/w_s); each
    * stratum then keeps rate w_s·T/c_s (the arg-min stratum keeps
    * everything). The corpus itself stays declarative — counts come
    * from a groupBy (one tiny row per stratum), T from an aggregate
    * over that frame, and the per-stratum rates broadcast back onto
    * the corpus; the ONLY driver materialization is the ≤|shares|-row
    * stratum list, collected to fail loudly when a requested stratum
    * has no samplable rows (T would otherwise be computed over the
    * present strata only and silently violate the target composition).
    * Rows with a null `id` can never be kept (the hash comparison is
    * null) and are excluded up front so they don't inflate the counts.
    * Per-row keep/drop decisions reuse the deterministic
    * [[hashPermille]].
    */
  def mixtureSample(df: DataFrame, id: Column, stratum: Column,
                    shares: Map[String, Double]): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val sharesDf = shares.toSeq.toDF("stratum", "share")
    val tagged = df.filter(id.isNotNull).withColumn("__graft_stratum", stratum)
    // tiny (one row per stratum) but derived from a full corpus scan —
    // materialize once, reused by the missing-stratum check and the rates
    val counts = Pins.checkpoint(tagged.groupBy(col("__graft_stratum").as("stratum"))
      .agg(count(lit(1)).cast("double").as("c"))
      .join(sharesDf, Seq("stratum")), "sampling.counts")
    val present = counts.select(col("stratum")).as[String].collect().toSet
    val missing = shares.keySet.diff(present)
    require(missing.isEmpty,
      s"mixtureSample: no samplable rows for target strata ${missing.mkString(", ")} " +
        "— the requested composition is unreachable")
    val t = counts.agg(min(col("c") / col("share")).as("t"))
    val rates = counts.crossJoin(t)
      .select(col("stratum").as("__graft_stratum"),
        (col("share") * col("t") / col("c")).as("__graft_rate"))
    tagged
      .join(broadcast(rates), Seq("__graft_stratum"))
      .filter(hashPermille(id).cast("double") < col("__graft_rate") * 1000.0)
      .drop("__graft_stratum", "__graft_rate")
  }

  /** Target-share mixture WITH upsampling (epoch expansion): hit the
    * requested composition while holding the output near the corpus
    * size, repeating small strata instead of throwing the rest away —
    * the pretraining data-mixing move where a high-quality minority
    * domain runs for multiple epochs while the dominant crawl
    * downsamples (the weighted-mix recipe of GPT-3 Table 2.2 /
    * Llama's per-source epoch factors). Each stratum's repeat factor
    * is `r = share·T / c` (T = the targeted strata's total rows, c =
    * the stratum's own — so the output holds the targeted mass and
    * shares renormalize over the strata actually requested),
    * capped at `maxRepeat`; every row emits `floor(r)` whole copies
    * plus one fractional copy decided by the row's own id hash at
    * integer per-mille — deterministic row-for-row, like the rest of
    * the family (`floor`, not `round`: the rates are low-denominator
    * rationals, exactly the decimal-tie class `round` flips on across
    * engines). Output is the (id, stratum, copy_idx) manifest a
    * training loader consumes; strata absent from `shares` drop.
    *
    * Scale shape: one skinny count agg (one row per stratum), a
    * broadcast rate join, then a NARROW per-row `sequence`+`explode`
    * bounded by `maxRepeat` — the corpus never shuffles, and output
    * volume is the explode's, which is the point.
    */
  def epochMixture(df: DataFrame, id: Column, stratum: Column,
                   shares: Map[String, Double], maxRepeat: Double = 10.0,
                   weight: Column = lit(1L)): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be non-empty and positive")
    require(maxRepeat >= 1.0, "maxRepeat must be at least 1")
    val spark = df.sparkSession
    import spark.implicits._
    val sharesDf = shares.toSeq.toDF("stratum", "share")
    val tagged = df.filter(id.isNotNull).withColumn("__graft_stratum", stratum)
      .withColumn("__graft_w", weight)
    // `weight` sets the mass the shares target: the default weighs
    // every doc equally (composition by doc count); pass a token count
    // to hit the target in TOKEN mass — what a training mix actually
    // specifies. Integer weights sum exactly (long adds), so the cast
    // is the only float step and c stays cross-engine bit-stable.
    val counts = Pins.checkpoint(tagged.groupBy(col("__graft_stratum").as("stratum"))
      .agg(sum(col("__graft_w")).cast("double").as("c"))
      .join(sharesDf, Seq("stratum")), "sampling.counts")
    val present = counts.select(col("stratum")).as[String].collect().toSet
    val missing = shares.keySet.diff(present)
    require(missing.isEmpty,
      s"epochMixture: no rows for target strata ${missing.mkString(", ")} " +
        "— the requested composition is unreachable")
    // T from the checkpointed stratum table — no second corpus scan
    val t = counts.agg(sum(col("c")).as("t"))
    val rates = counts.crossJoin(t)
      .select(col("stratum").as("__graft_stratum"),
        least(col("share") * col("t") / col("c"), lit(maxRepeat)).as("__graft_r"))
      .select(col("__graft_stratum"),
        floor(col("__graft_r")).cast("long").as("__graft_full"),
        floor((col("__graft_r") - floor(col("__graft_r"))) * 1000).as("__graft_thr"))
    tagged.join(broadcast(rates), Seq("__graft_stratum"))
      .select(id.as("doc_id"), col("__graft_stratum").as("stratum"),
        col("__graft_full"), col("__graft_thr"),
        explode(sequence(lit(0L), col("__graft_full"))).as("copy_idx"))
      .filter(col("copy_idx") < col("__graft_full") ||
        hashPermille(col("doc_id")).cast("double") < col("__graft_thr"))
      .select(col("doc_id"), col("stratum"), col("copy_idx"))
  }

  /** Temperature-weighted mixture (the α-smoothed sampling of Conneau &
    * Lample 2019 / the multilingual-BERT exponent; GPT-3's corpus
    * weighting is the same form): target composition ∝ count^alpha, so
    * alpha = 1 keeps the natural mix and alpha → 0 approaches
    * uniform-by-stratum. Keeps the maximum data subject to the target:
    * the smallest stratum survives whole and every larger one
    * downsamples by (c_min / c_s)^(1-alpha) — the closed form of
    * [[mixtureSample]] with shares = c^alpha, so no share map needs
    * pre-measuring. Decisions hash the row's own id (same determinism
    * contract as the rest of the family); the per-stratum survival
    * threshold is rounded to integer per-mille so the transcendental
    * pow never decides a row at a sub-ulp boundary across engines.
    *
    * Scale shape: one skinny count aggregation (one row per stratum,
    * checkpointed once), a broadcast rate join, then a stateless narrow
    * filter — the corpus never shuffles.
    */
  def temperatureMixture(df: DataFrame, id: Column, stratum: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val tagged = df.filter(id.isNotNull).withColumn("__graft_stratum", stratum)
    // tiny (one row per stratum) but derived from a full corpus scan —
    // materialize once, reused by the min and the rates
    val counts = Pins.checkpoint(tagged.groupBy(col("__graft_stratum"))
      .agg(count(lit(1)).cast("double").as("__graft_c")), "sampling.counts")
    val cmin = counts.agg(min(col("__graft_c")).as("__graft_cmin"))
    val rates = counts.crossJoin(cmin)
      .select(col("__graft_stratum"),
        round(pow(col("__graft_cmin") / col("__graft_c"), lit(1.0 - alpha)) * 1000).as("__graft_thr"))
    tagged.join(broadcast(rates), Seq("__graft_stratum"))
      .filter(hashPermille(id).cast("double") < col("__graft_thr"))
      .drop("__graft_stratum", "__graft_thr")
  }

  /** 32-bit id hash (md5 prefix): the deterministic stand-in for a
    * pre-training shuffle — used as both the shard key and the
    * within-shard ordering so a re-run (or another engine) reproduces
    * the exact same layout.
    */
  private[graft] def hash32(id: Column): Column =
    TextAnalysis.md5PrefixLong(id.cast("string"), 8)

  private[graft] def hash32Sql(id: String): String =
    TextAnalysis.md5PrefixLongSql(s"CAST($id AS VARCHAR)", 8)

  /** Token-budget-constrained selection: fill `budgetTokens` with the
    * best-scoring documents — the "select the best N-token corpus from
    * this crawl" curation move. Scores quantize to integer per-mille
    * buckets; whole buckets are taken best-first while they fit, the
    * boundary bucket is cut by a deterministic per-mille hash rate
    * `floor((budget - cum_before)·1000 / bucket_tokens)`, and lower
    * buckets drop. Selection is per-mille-approximate at the boundary
    * (hash thinning targets the residual fraction), never random:
    * re-runs and engines agree row-for-row, and a larger budget's
    * selection is a superset of a smaller one's (rates are monotone in
    * the budget, hash decisions are thresholded).
    *
    * Scale shape: one map-side-combined agg to the ≤1001-row bucket
    * table; the cumulative window runs over THAT table (bounded rows —
    * the one place a single-partition window is safe by construction),
    * rates broadcast back, and the corpus-side verdict is a stateless
    * narrow filter. The corpus is never globally sorted — the classic
    * quality-ordered cumsum formulation would serialize 100 TB through
    * one window partition for the same result.
    */
  def budgetSelect(df: DataFrame, id: Column, score: Column,
                   nTokens: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val base = df.select(id.as("doc_id"),
      round(score * 1000).cast("long").as("bucket"),
      nTokens.cast("long").as("n_tokens"))
    val stats = base.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("toks"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val rates = stats
      .withColumn("cum_before", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("rate",
        when(col("cum_before") + col("toks") <= budgetTokens, lit(1000L))
          .when(col("cum_before") < budgetTokens,
            floor((lit(budgetTokens) - col("cum_before")) * 1000 / col("toks")))
          .otherwise(lit(0L)))
      .select(col("bucket"), col("rate"))
    base.join(broadcast(rates), Seq("bucket"))
      .filter(hashPermille(col("doc_id")) < col("rate"))
      .select(col("doc_id"), col("bucket"), col("n_tokens"))
  }

  /** [[budgetSelect]] as DuckDB SQL over relation `documents`, with
    * `score` and `ntok` SQL expressions over column `text` — the same
    * bucket cumsum and boundary per-mille rate.
    */
  private[graft] def budgetSelectSql(scoreSql: String, ntokSql: String,
                                     budget: Long,
                                     rel: String = "documents"): String =
    s"""WITH bb AS (SELECT doc_id, CAST(round(($scoreSql) * 1000) AS BIGINT) AS bucket,
       |  CAST(($ntokSql) AS BIGINT) AS n_tokens FROM $rel),
       |bs AS (SELECT bucket, SUM(n_tokens) AS toks FROM bb GROUP BY 1),
       |bc AS (SELECT bucket, toks, COALESCE(SUM(toks) OVER (ORDER BY bucket DESC
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM bs),
       |brates AS (SELECT bucket,
       |  CASE WHEN cum_before + toks <= $budget THEN 1000
       |       WHEN cum_before < $budget THEN ($budget - cum_before) * 1000 // toks
       |       ELSE 0 END AS rate FROM bc)
       |SELECT doc_id, bucket, n_tokens FROM bb JOIN brates USING (bucket)
       |WHERE ${hashPermilleSql("doc_id")} < rate""".stripMargin

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): distribute a token budget uniformly over
    * strata (languages / domains), capping every stratum at `maxEpochs`
    * passes over its own data — the waterfill closed form of the
    * paper's greedy. Strata ascend by cap; a stratum is capped while
    * its cap fits the uniform share of the budget remaining at its
    * position, and the first stratum whose cap exceeds that share fixes
    * the constant share every remaining (larger) stratum receives.
    * The budget is `budgetFrac` of the corpus's total weight so the
    * whole computation (and its oracle) derives from the data alone.
    * Emits one row per stratum: (stratum, n_tokens, cap_tokens, capped,
    * alloc_tokens, epochs).
    *
    * Scale shape: ONE skinny stratum-count aggregation is the only
    * corpus pass; the waterfill itself windows over the STRATUM table —
    * languages/domains number in the hundreds, so the unpartitioned
    * window frame is metadata-sized by construction (same bound as
    * [[mixtureSample]]'s strata list). Cross-engine determinism: counts
    * are exact longs, every double op (cap product, ordered cumulative
    * sum, share division) runs in the same fixed order on identical
    * inputs, so results are bit-identical unrounded.
    */
  def uniMaxAllocation(df: DataFrame, stratum: Column, nTokens: Column,
                       budgetFrac: Double, maxEpochs: Double): DataFrame = {
    require(budgetFrac > 0, "budgetFrac must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val counts = df.groupBy(stratum.as("stratum"))
      .agg(sum(nTokens.cast("long")).as("n_tok"))
    val wOrd = Window.orderBy(col("cap"), col("stratum"))
    val wAll = Window.partitionBy(lit(1))
    val capped = col("b_rn").isNull || col("rn") < col("b_rn")
    val alloc = when(capped, col("cap")).otherwise(col("s_star"))
    counts
      .withColumn("cap", col("n_tok").cast("double") * lit(maxEpochs))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cum_prev", coalesce(
        sum(col("cap")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)))
      .withColumn("n_strata", count(lit(1)).over(wAll))
      .withColumn("budget",
        lit(budgetFrac) * sum(col("n_tok")).over(wAll).cast("double"))
      .withColumn("share",
        (col("budget") - col("cum_prev")) /
          (col("n_strata") - col("rn") + 1).cast("double"))
      .withColumn("b_rn",
        min(when(col("cap") > col("share"), col("rn"))).over(wAll))
      .withColumn("s_star",
        max(when(col("rn") === col("b_rn"), col("share"))).over(wAll))
      .select(col("stratum"), col("n_tok").as("n_tokens"),
        col("cap").as("cap_tokens"), capped.as("capped"),
        alloc.as("alloc_tokens"),
        (alloc / col("n_tok").cast("double")).as("epochs"))
  }

  /** [[uniMaxAllocation]] as DuckDB SQL over relation `rel`, with
    * `stratumSql`/`ntokSql` expressions — the same ascending-cap
    * waterfill, window for window.
    */
  private[graft] def uniMaxAllocationSql(stratumSql: String, ntokSql: String,
                                         budgetFrac: Double, maxEpochs: Double,
                                         rel: String = "documents"): String = {
    val e = maxEpochs.toString
    s"""WITH umc AS (SELECT $stratumSql AS stratum, CAST(SUM($ntokSql) AS BIGINT) AS n_tok
       |  FROM $rel GROUP BY 1),
       |ump AS (SELECT stratum, n_tok, CAST(n_tok AS DOUBLE) * $e AS cap,
       |   row_number() OVER (ORDER BY CAST(n_tok AS DOUBLE) * $e, stratum) AS rn,
       |   coalesce(SUM(CAST(n_tok AS DOUBLE) * $e) OVER (ORDER BY CAST(n_tok AS DOUBLE) * $e, stratum
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_prev,
       |   COUNT(*) OVER () AS n_strata,
       |   ${budgetFrac.toString} * CAST(SUM(n_tok) OVER () AS DOUBLE) AS budget
       |  FROM umc),
       |ums AS (SELECT *, (budget - cum_prev) / CAST(n_strata - rn + 1 AS DOUBLE) AS share FROM ump),
       |umg AS (SELECT *, MIN(CASE WHEN cap > share THEN rn END) OVER () AS b_rn FROM ums),
       |umh AS (SELECT *, MAX(CASE WHEN rn = b_rn THEN share END) OVER () AS s_star FROM umg)
       |SELECT stratum, n_tok AS n_tokens, cap AS cap_tokens,
       |  (b_rn IS NULL OR rn < b_rn) AS capped,
       |  CASE WHEN b_rn IS NULL OR rn < b_rn THEN cap ELSE s_star END AS alloc_tokens,
       |  CASE WHEN b_rn IS NULL OR rn < b_rn THEN cap ELSE s_star END / CAST(n_tok AS DOUBLE) AS epochs
       |FROM umh""".stripMargin
  }

  /** Expand the corpus into the training manifest [[uniMaxAllocation]]
    * prescribes: every doc of a stratum repeats floor(epochs) times,
    * plus one more copy for the deterministic per-mille fraction of
    * ids covering the fractional epoch — the same (doc_id, stratum,
    * copy_idx) manifest shape as [[epochMixture]], with the repeat
    * rate coming from the waterfill instead of target shares.
    *
    * Scale shape: the allocation is strata-sized and broadcasts; the
    * expansion is a narrow explode bounded by ceil(maxEpochs); the
    * corpus itself never shuffles.
    */
  def uniMaxManifest(df: DataFrame, id: Column, stratum: Column, nTokens: Column,
                     budgetFrac: Double, maxEpochs: Double): DataFrame = {
    val base = df.filter(id.isNotNull)
    val rates = uniMaxAllocation(base, stratum, nTokens, budgetFrac, maxEpochs)
      .select(col("stratum").as("__graft_stratum"),
        floor(col("epochs")).cast("long").as("__graft_full"),
        floor((col("epochs") - floor(col("epochs"))) * 1000).as("__graft_thr"))
    base.withColumn("__graft_stratum", stratum)
      .join(broadcast(rates), Seq("__graft_stratum"))
      .select(id.as("doc_id"), col("__graft_stratum").as("stratum"),
        col("__graft_full"), col("__graft_thr"),
        explode(sequence(lit(0L), col("__graft_full"))).as("copy_idx"))
      .filter(col("copy_idx") < col("__graft_full") ||
        hashPermille(col("doc_id")).cast("double") < col("__graft_thr"))
      .select(col("doc_id"), col("stratum"), col("copy_idx"))
  }

  /** Context-window chunking: split each document's whitespace token
    * stream into `window`-token chunks starting every `stride` tokens
    * (stride < window ⇒ overlapping chunks, the usual training shape so
    * no span is ever seen only at a window edge; stride == window ⇒ a
    * partition of the stream). Emits (doc_id, chunk_idx, chunk_text,
    * n_chunk_tokens) and then the doc's `carry` columns; the final
    * chunks of a doc are shorter than `window` rather than padded —
    * padding policy belongs to the trainer, not the corpus.
    *
    * Scale shape: pure narrow per-row work — tokenize, one
    * `sequence`+`explode` over the start offsets, `slice` per chunk.
    * Zero exchanges, codegen'd end to end; output size is the only
    * cost, exactly the (window/stride)× blow-up the training recipe
    * asked for.
    */
  def chunkTokens(df: DataFrame, id: Column, text: Column,
                  window: Int, stride: Int, carry: Seq[String] = Nil): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    require(stride <= window, s"stride=$stride > window=$window would drop tokens")
    val toks = TextAnalysis.tokens(text)
    val carried = carry.map(col)
    df.select(Seq(id.as("doc_id"), toks.as("t")) ++ carried: _*)
      .select(Seq(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(stride))).as("start")) ++ carried: _*)
      .select(Seq(col("doc_id"), (col("start") / stride).cast("int").as("chunk_idx"),
        slice(col("t"), col("start") + 1, lit(window)).as("c")) ++ carried: _*)
      .select(Seq(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", col("c")).as("chunk_text"),
        size(col("c")).cast("long").as("n_chunk_tokens")) ++ carried: _*)
  }

  /** [[chunkTokens]] as DuckDB SQL over relation `documents` — the same
    * start-offset grid (`range(0, len, stride)` ≡ Spark's
    * `sequence(0, len-1, stride)`) and 1-based slice bounds.
    */
  private[graft] def chunkTokensSql(window: Int, stride: Int,
                                    rel: String = "documents"): String =
    raw"""WITH ctoks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM $rel),
         |cs AS (SELECT doc_id, t, unnest(range(0, len(t), $stride)) AS start FROM ctoks)
         |SELECT doc_id, CAST(start // $stride AS INT) AS chunk_idx,
         |  array_to_string(list_slice(t, start + 1, start + $window), ' ') AS chunk_text,
         |  CAST(len(list_slice(t, start + 1, start + $window)) AS BIGINT) AS n_chunk_tokens
         |FROM cs""".stripMargin

  /** Global ordinal rank (1-based) of every row under the total order
    * `ord` — curriculum ordering at corpus scale. The textbook
    * formulation (`row_number` over an unpartitioned window) serializes
    * the corpus through ONE partition; here the corpus is
    * range-partitioned and sorted on `ord`, each row takes a local
    * index from `monotonically_increasing_id` (consecutive within a
    * partition by construction — narrow, no window, no exchange beyond
    * the range shuffle itself), and each partition's rank offset is the
    * cumulative row count of earlier range partitions — a ≤P-row
    * driver-side table broadcast back. Ranks depend only on the total
    * order, never on where the sampled range boundaries land, so the
    * output is deterministic even though the partitioning is not; the
    * boundary/id assignment is pinned with one checkpoint so the
    * offset table and the rank join read the SAME materialized
    * assignment (owned by the caller's [[graft.Pins]] scope).
    *
    * `ord` must be a total order (break ties with the row id) or ranks
    * within a tie group are partition-placement-dependent.
    *
    * Cost honesty: the checkpoint materializes one corpus-sized copy on
    * executor memory+disk — the same order of disk the range shuffle
    * itself writes to shuffle files, so it does not change the job's
    * asymptotic footprint; it buys the guarantee that the offset table
    * and the rank join read ONE boundary/id assignment even across
    * recomputation (range-sampler and shuffle-fetch order are
    * implementation-deterministic at best).
    */
  def globalRank(df: DataFrame, ord: Seq[Column], numPartitions: Int = 0): DataFrame = {
    require(ord.nonEmpty, "at least one order column required")
    val spark = df.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val mid = "__graft_mid"
    val pinned = Pins.checkpoint(df.repartitionByRange(parts, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn(mid, monotonically_increasing_id()), "sampling.rank.assignment")
    // one row per non-empty range partition: (min id, row count), in
    // range order (monotonically_increasing_id places the partition
    // index in the high bits, so min-id order IS partition order)
    val partStats = pinned.groupBy(shiftright(col(mid), 33).as("pid"))
      .agg(min(col(mid)).as("mn"), count(lit(1)).as("c"))
      .orderBy(col("pid"))
      .select(col("pid"), col("mn"), col("c"))
      .as[(Long, Long, Long)].collect()
    var acc = 0L
    val offsets = partStats.map { case (pid, mn, c) =>
      val off = acc; acc += c; (pid, mn, off)
    }.toSeq
    val offDf = offsets.toDF("__graft_pid", "__graft_mn", "__graft_off")
    pinned.withColumn("__graft_pid", shiftright(col(mid), 33))
      .join(broadcast(offDf), Seq("__graft_pid"))
      .withColumn("rank", col("__graft_off") + (col(mid) - col("__graft_mn")) + 1)
      .drop("__graft_pid", "__graft_mn", "__graft_off", mid)
  }

  /** GPT-style sequence packing: documents are dealt into `shards` by id
    * hash, concatenated within each shard in hash order, and the token
    * stream cut into fixed `budget`-token windows. Emits per doc its
    * shard, start offset in the shard's token stream, and the first/last
    * window it lands in (`bin_first`/`bin_last` — a doc straddling a cut
    * spans several, exactly as packed training sequences do).
    *
    * Scale shape: ONE shuffle on the shard key, then an embarrassingly
    * parallel per-shard window — there is deliberately no global
    * cumulative sum (a single total-order window would serialize 100 TB
    * through one partition; per-shard streams are what data-parallel
    * trainers consume anyway, one or more shards per worker). Determinism
    * comes from the id hash, so re-runs and other engines reproduce the
    * identical packing.
    */
  def packSequences(df: DataFrame, id: Column, nTokens: Column,
                    shards: Int, budget: Int): DataFrame = {
    require(shards > 0 && budget > 0, "shards and budget must be positive")
    // explicit ROWS frame: (ord, pack_id) is tie-free, but pinning the
    // frame keeps the semantics identical to the SQL mirror regardless
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), col("pack_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = sum(col("n_tokens")).over(w) - col("n_tokens")
    df.select(id.as("pack_id"), nTokens.cast("long").as("n_tokens"),
        pmod(hash32(id), lit(shards)).as("shard"), hash32(id).as("ord"))
      .withColumn("start_off", start)
      // bin spans: [start, start + n_tokens - 1]; an empty doc occupies
      // no tokens and degenerates to bin_last == bin_first
      .withColumn("bin_first", floor(col("start_off") / lit(budget)).cast("long"))
      .withColumn("bin_last",
        floor(greatest(col("start_off"), col("start_off") + col("n_tokens") - 1)
          / lit(budget)).cast("long"))
      .select(col("pack_id"), col("shard"), col("start_off"),
        col("bin_first"), col("bin_last"))
  }
}
