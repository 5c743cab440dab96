package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.bound

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023): pick raw-corpus documents whose hashed-n-gram
  * distribution looks like a curated target corpus, by importance
  * weights under two bag-of-hashed-n-grams unigram models.
  *
  * The model is the paper's: features are word unigrams + bigrams
  * hashed into `buckets` bins (the hashing trick — collisions ARE the
  * smoothing mechanism); the target and raw bucket distributions are
  * add-one smoothed; a document's log importance weight is the sum of
  * its occurrences' per-bucket log ratios; selection is Gumbel top-k,
  * i.e. sampling without replacement proportional to the importance
  * weight, with the Gumbel draw derived deterministically from the
  * doc id's md5 so the selection is reproducible and cross-engine.
  *
  * Binary multinomial naive Bayes over the same features IS this
  * scorer (the log-ratio is the NB decision value), so this doubles as
  * the fastText-style quality-classifier score without a training loop.
  *
  * Cross-engine exactness: every transcendental is floor-quantized to
  * an integer in millionths AT THE BUCKET (one `ln` of a correctly-
  * rounded quotient of exact-in-double integers, ×1e6, floor — the
  * [[TextAnalysis.md5PrefixLong]] discipline applied to logs), so the
  * per-document weight is a SUM OF LONGS — exact, associative, and
  * bit-identical between Spark and DuckDB regardless of aggregation
  * order. A 1-ulp libm divergence flips a floor only within 1e-9 of an
  * integer boundary — negligible even at 1e12 buckets-times-docs.
  *
  * Scale shape (the reason to run DSIR on Spark at all): the fit is
  * two corpus passes that aggregate to a `buckets`-sized table
  * (map-side partial combine; the shuffle carries ≤ buckets rows per
  * partition), collected once to the driver (bounded: `buckets`
  * longs, same class as the strata lists). Scoring is a pure narrow
  * HOF over a broadcast literal — the corpus NEVER shuffles to be
  * weighted — and selection is a distributed top-k (TakeOrdered), not
  * a global sort.
  */
object Selection {

  /** Paper's hashed-feature dimensionality class (§3.1 uses 10k;
    * any power of two keeps the literal small and the mod cheap). */
  val DefaultBuckets = 4096

  /** Hashed feature-bucket array of a document: unigrams + bigrams →
    * md5-prefix mod `buckets`. One occurrence per gram occurrence —
    * counts matter, this is a bag not a set.
    */
  private[graft] def featureBuckets(text: Column, buckets: Int): Column =
    call_function("graft_feature_buckets", text, lit(buckets))

  private[graft] def featureBucketsHof(text: Column, buckets: Int): Column =
    bound(concat(TextAnalysis.wordNgrams(text, 1), TextAnalysis.wordNgrams(text, 2))) { gs =>
      transform(gs, g => TextAnalysis.md5PrefixLong(g, 8) % buckets)
    }

  private[graft] def featureBucketsSql(x: String, buckets: Int): String =
    s"[${TextAnalysis.md5PrefixLongSql("g", 8)} % $buckets FOR g IN " +
      s"list_concat(${TextAnalysis.wordNgramsSql(x, 1)}, ${TextAnalysis.wordNgramsSql(x, 2)})]"

  /** Fit the importance model: per-bucket quantized per-occurrence
    * log-ratio contributions, the smoothed-total normalizer folded in
    * (a document's weight is then just the sum over its occurrences).
    *
    *   lam(b) = floor(1e6·ln((tc_b+1)/(rc_b+1)))
    *          + floor(1e6·ln((RT+B)/(TT+B)))
    *
    * Two aggregation jobs (target, raw), each collapsing the corpus to
    * ≤ `buckets` (bucket, count) rows before the driver sees anything.
    */
  def fitDsir(raw: DataFrame, target: DataFrame, text: Column,
              buckets: Int = DefaultBuckets): Array[Long] = {
    require(buckets > 0 && buckets <= (1 << 20), "buckets must be in (0, 2^20]")
    def counts(df: DataFrame): Map[Long, Long] =
      df.select(explode(featureBuckets(text, buckets)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two independent agg-collect jobs — overlapped (see [[Par.both]])
    val (rc, tc) = Par.both(counts(raw), counts(target))
    val rt = rc.valuesIterator.sum
    val tt = tc.valuesIterator.sum
    require(rt > 0 && tt > 0, "raw and target must both contain at least one token")
    // same operation order as the SQL mirror: long→double casts (exact
    // below 2^52), one correctly-rounded divide, one ln, ×1e6, floor
    def q(num: Long, den: Long): Long =
      math.floor(1e6 * math.log(num.toDouble / den.toDouble)).toLong
    val offq = q(rt + buckets, tt + buckets)
    Array.tabulate(buckets) { b =>
      q(tc.getOrElse(b.toLong, 0L) + 1, rc.getOrElse(b.toLong, 0L) + 1) + offq
    }
  }

  /** A document's quantized log importance weight under a fitted model
    * (millionths of a nat): pure narrow expression — broadcast literal
    * lookup + long sum, no shuffle, no join.
    */
  def dsirWeightQ(text: Column, lam: Array[Long]): Column =
    bound(featureBuckets(text, lam.length)) { bs =>
      aggregate(bs, lit(0L), (acc, b) => acc + element_at(typedLit(lam.toSeq), (b + 1).cast("int")))
    }

  /** The SQL mirror fits the model itself from the same tables:
    * `rawSql`/`targetSql` are FROM-able sources with a `text` column
    * named by `x`. Per-doc weight via unnest + bucket join + long sum —
    * the set-oriented formulation of the same integer arithmetic.
    */
  def dsirWeightsSql(idCol: String, x: String, rawSql: String, targetSql: String,
                     buckets: Int = DefaultBuckets): String =
    s"""WITH rawg AS (SELECT $idCol, unnest(${featureBucketsSql(x, buckets)}) AS bucket
       |  FROM $rawSql),
       |tgtg AS (SELECT unnest(${featureBucketsSql(x, buckets)}) AS bucket FROM $targetSql),
       |rawc AS (SELECT bucket, count(*) AS rc FROM rawg GROUP BY 1),
       |tgtc AS (SELECT bucket, count(*) AS tc FROM tgtg GROUP BY 1),
       |tots AS (SELECT (SELECT count(*) FROM rawg) AS rt, (SELECT count(*) FROM tgtg) AS tt),
       |lam AS (SELECT r.bucket,
       |    CAST(floor(1000000 * ln(CAST(coalesce(t.tc, 0) + 1 AS DOUBLE) / CAST(r.rc + 1 AS DOUBLE))) AS BIGINT)
       |  + (SELECT CAST(floor(1000000 * ln(CAST(rt + $buckets AS DOUBLE) / CAST(tt + $buckets AS DOUBLE))) AS BIGINT) FROM tots)
       |  AS lamq FROM rawc r LEFT JOIN tgtc t USING (bucket)),
       |w AS (SELECT rawg.$idCol, CAST(sum(lam.lamq) AS BIGINT) AS dsir_wq
       |  FROM rawg JOIN lam USING (bucket) GROUP BY rawg.$idCol)
       |SELECT r.$idCol, CAST(coalesce(w.dsir_wq, 0) AS BIGINT) AS dsir_wq
       |FROM (SELECT $idCol FROM $rawSql) r LEFT JOIN w USING ($idCol)""".stripMargin

  /** Deterministic quantized Gumbel perturbation of an id (millionths):
    * u = (md5₃₂(id)+0.5)/2³², g = −ln(−ln(u)). The +0.5 keeps u off
    * both endpoints; the 2³² divisor is a power of two, so u is exact.
    */
  private[graft] def gumbelQ(id: Column): Column =
    floor(lit(1e6) * -log(-log(
      (TextAnalysis.md5PrefixLong(id.cast("string"), 8).cast("double") + 0.5) / 4294967296.0)))
      .cast("long")

  private[graft] def gumbelQSql(idSql: String): String =
    s"CAST(floor(1000000 * -ln(-ln((CAST(${TextAnalysis.md5PrefixLongSql(s"CAST($idSql AS VARCHAR)", 8)} AS DOUBLE) + 0.5) / 4294967296.0))) AS BIGINT)"

  /** One-pass fit+score for the common SUBSET-target case (target =
    * `df.filter(isTarget)`): the md5 feature hashing — the dominant
    * cost of the DSIR family — runs ONCE over the corpus instead of
    * three times (raw fit, target fit, scoring). The per-doc bucket
    * arrays are pinned as a SKINNY frame (id + flag + int array — the
    * guide-§8 proxy, never the text payload); the dual bucket counts
    * come from one aggregation over it (`count` + `count_if`), and
    * scoring reads the same pinned arrays. Values are bit-identical to
    * [[fitDsir]] + [[dsirWeightQ]]: same counts, same quantized
    * arithmetic, same order of operations. The general two-frame API
    * below remains for targets that are not a predicate of `df`
    * (e.g. a separate benchmark table).
    *
    * Returns (`idName`, dsir_wq) for every row of `df`.
    */
  def dsirWeightsSubset(df: DataFrame, idName: String, text: Column,
                        isTarget: Column, buckets: Int = DefaultBuckets): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 20), "buckets must be in (0, 2^20]")
    val bucketed = Pins.checkpoint(df.select(col(idName), isTarget.as("__tgt"),
        featureBuckets(text, buckets).as("__bs")), "selection.bucketed")
    val agg = bucketed
      .select(col("__tgt"), explode(col("__bs")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rc"), count_if(col("__tgt")).as("tc"))
      .collect()
    val rc = agg.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = agg.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rt = rc.valuesIterator.sum
    val tt = tc.valuesIterator.sum
    require(rt > 0 && tt > 0, "raw and target must both contain at least one token")
    def q(num: Long, den: Long): Long =
      math.floor(1e6 * math.log(num.toDouble / den.toDouble)).toLong
    val offq = q(rt + buckets, tt + buckets)
    val lam = Array.tabulate(buckets) { b =>
      q(tc.getOrElse(b.toLong, 0L) + 1, rc.getOrElse(b.toLong, 0L) + 1) + offq
    }
    bucketed.select(col(idName),
      bound(col("__bs")) { bs =>
        aggregate(bs, lit(0L), (acc, b) => acc + element_at(typedLit(lam.toSeq), (b + 1).cast("int")))
      }.as("dsir_wq"))
  }

  /** [[dsirWeightsSubset]] + the Gumbel top-k tail of [[dsirSelect]]:
    * identical output to `dsirSelect(df, df.filter(isTarget), …)`
    * restricted to (id, dsir_wq, gumbel_score), computed from one
    * corpus hashing pass.
    */
  def dsirSelectSubset(df: DataFrame, idName: String, text: Column,
                       isTarget: Column, k: Int,
                       buckets: Int = DefaultBuckets): DataFrame = {
    require(k > 0, "k must be positive")
    dsirWeightsSubset(df, idName, text, isTarget, buckets)
      .withColumn("gumbel_score", col("dsir_wq") + gumbelQ(col(idName)))
      .orderBy(col("gumbel_score").desc, col(idName).asc)
      .limit(k)
  }

  /** DSIR selection: fit on (raw=df, target), weight every raw doc,
    * take the Gumbel top-k — sampling k docs without replacement with
    * probability proportional to their importance weight (temperature 1
    * in quantized-nat units), deterministically. Returns the selected
    * rows of `df` with their `dsir_wq` and perturbed `gumbel_score`.
    */
  def dsirSelect(df: DataFrame, target: DataFrame, id: Column, text: Column,
                 k: Int, buckets: Int = DefaultBuckets): DataFrame = {
    require(k > 0, "k must be positive")
    val lam = fitDsir(df, target, text, buckets)
    df.withColumn("dsir_wq", dsirWeightQ(text, lam))
      .withColumn("gumbel_score", col("dsir_wq") + gumbelQ(id))
      .orderBy(col("gumbel_score").desc, id.asc)
      .limit(k)
  }

  def dsirSelectSql(idCol: String, x: String, rawSql: String, targetSql: String,
                    k: Int, buckets: Int = DefaultBuckets): String =
    s"""WITH wts AS (${dsirWeightsSql(idCol, x, rawSql, targetSql, buckets)})
       |SELECT $idCol, dsir_wq, dsir_wq + ${gumbelQSql(idCol)} AS gumbel_score
       |FROM wts ORDER BY gumbel_score DESC, $idCol ASC LIMIT $k""".stripMargin
}
