package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.{punctCountSql, repetitionRatioSql, stopwordRatioSql}

/** Trained logistic quality classifier — the published corpus-quality
  * move (GPT-3 §A / CCNet: fit a linear classifier that separates a
  * "good" seed from the raw crawl, keep documents it scores high)
  * realized as a DISTRIBUTED full-batch gradient fit where each step
  * is one aggregation job, the `fitDsir` two-pass shape iterated:
  *
  *   - features: the engine's portable per-doc quality signals
  *     (stopword density, 2-gram repetition, punctuation density) plus
  *     a bias, each floor-quantized to an integer in millionths;
  *   - labels: the Gopher gate (a caller-supplied positive set slots
  *     in the same way — the label is just a 0/1e6 column);
  *   - one step: z = w·x in natural units, σ quantized to millionths,
  *     and the gradient Σ (σq − y)·x accumulated as a SUM OF LONGS —
  *     exact, associative, order-free (the [[Selection]] discipline),
  *     so Spark's partial aggregates and DuckDB's single-node sum agree
  *     bit-for-bit. The only transcendental (exp) is floor-quantized at
  *     the document, where a 1-ulp libm divergence flips a floor only
  *     within 1e-9 of an integer boundary;
  *   - update: w ← w − lr·avg-gradient, driver arithmetic over K longs.
  *
  * Scale shape: the fit runs over a deterministic `id % sampleMod`
  * slice (classifier training needs thousands of examples, not the
  * corpus), each step one narrow pass collapsing to d+1 driver longs;
  * scoring is a pure per-row expression with the weights baked in as
  * literals — no shuffle, no join, the corpus never moves.
  */
object QualityModel {

  val Dim = 4 // bias, stopword ratio, 2-gram repetition, punct density
  // full-batch GD is stable for lr < 2/(0.25·max‖x‖²) ≈ 7.6 at these
  // feature scales (bias 1, ratios ≤ ~0.25); 20 steps at 6 moves the
  // bias by whole nats when the labels are imbalanced
  val DefaultSteps = 20
  val DefaultLr = 6.0
  val DefaultSampleMod = 5
  val KeepThresholdQ = 500000L // σ ≥ 0.5 in millionths

  /** Quantized long feature columns, fixed order (the SQL mirror must
    * list the same expressions in the same order).
    */
  def featureCols(text: Column): Seq[Column] = Seq(
    lit(1000000L),
    floor(lit(1000000.0) * TextAnalysis.stopwordRatio(text)).cast("long"),
    floor(lit(1000000.0) * TextAnalysis.repetitionRatio(text, 2)).cast("long"),
    floor(lit(1000000.0) * (TextAnalysis.punctCount(text).cast("double") /
      greatest(length(text), lit(1)).cast("double"))).cast("long"))

  def featureColsSql(x: String): Seq[String] = Seq(
    "CAST(1000000 AS BIGINT)",
    s"CAST(floor(1000000.0 * (${stopwordRatioSql(x)})) AS BIGINT)",
    s"CAST(floor(1000000.0 * (${repetitionRatioSql(x, 2)})) AS BIGINT)",
    s"CAST(floor(1000000.0 * (CAST(${punctCountSql(x)} AS DOUBLE) / " +
      s"CAST(greatest(length($x), 1) AS DOUBLE))) AS BIGINT)")

  /** Gopher-gate label in millionths (1e6 = positive). */
  def labelCol(text: Column): Column =
    when(TextAnalysis.gopherPass(text), lit(1000000L)).otherwise(lit(0L))

  /** z = w·x in natural units over quantized feature columns `f0..f3`
    * with driver-held quantized weights: fixed-order left-associated
    * sum of one product per feature, each factor de-quantized the same
    * way the SQL mirror spells it.
    */
  private def zExpr(wq: Array[Long]): Column =
    wq.zipWithIndex.map { case (w, j) =>
      lit(w.toDouble / 1000000.0) * (col(s"f$j").cast("double") / lit(1000000.0))
    }.reduce(_ + _)

  private def sigmoidQ(z: Column): Column =
    floor(lit(1000000.0) / (lit(1.0) + exp(-z))).cast("long")

  /** Fit: K full-batch gradient steps over the `id % sampleMod` slice.
    * The skinny (d longs + label) feature frame persists across steps —
    * the text features are computed once, each step re-reads ~40 bytes
    * a row. Returns quantized weights (millionths).
    */
  def fit(df: DataFrame, id: Column, text: Column,
          sampleMod: Int = DefaultSampleMod, steps: Int = DefaultSteps,
          lr: Double = DefaultLr): Array[Long] = {
    Pins.scoped {
      val feats = Pins.persist(df.where(pmod(id, lit(sampleMod)) === 0)
        .select(featureCols(text).zipWithIndex.map { case (c, j) => c.as(s"f$j") } :+
          labelCol(text).as("y"): _*), "quality.features")
      var wq = Array.fill(Dim)(0L)
      for (_ <- 1 to steps) {
        val r = sigmoidQ(zExpr(wq)) - col("y")
        // per-row |r·f| ≤ 1e12 fits Long, but the SUM over a large
        // sample does not (wraps silently past 9.2e18 at ~1e7 rows) —
        // accumulate in decimal(38,0), the exact-integer domain
        // DuckDB's HUGEINT sum mirrors; the decimal→double cast is
        // correctly rounded on both engines
        val aggs = (0 until Dim).map(j =>
          sum((r * col(s"f$j")).cast("decimal(38,0)")).as(s"g$j")) :+
          count(lit(1)).as("n")
        val row = feats.agg(aggs.head, aggs.tail: _*).collect()(0)
        val n = row.getAs[Long]("n")
        require(n > 0, s"quality fit sample is empty (sampleMod=$sampleMod)")
        wq = Array.tabulate(Dim) { j =>
          val g = row.getAs[java.math.BigDecimal](s"g$j").doubleValue()
          wq(j) - math.floor(lr * (g / n.toDouble) / 1000000.0).toLong
        }
      }
      wq
    }
  }

  /** Score with trained weights baked in as literals: quantized σ(w·x)
    * in millionths — pure narrow expression over `f0..f3` columns.
    */
  def scoreQ(wq: Array[Long]): Column = sigmoidQ(zExpr(wq))

  /** In-process train-once cache: the four quantized longs ARE the
    * whole model, so (like the IVF-PQ codebook cache) a session trains
    * once per (data identity, knobs) and every later pass reuses the
    * weights — pass 1 of a bench pays the K aggregation jobs, min-of-2
    * reports the steady state. Keyed by a CALLER-supplied identity
    * string (source path + mtime + size via `ArtifactCache
    * .sourceIdentity`) so re-provisioned data retrains.
    *
    * BOUNDED (LRU, 64 entries — a bench session trains a handful of
    * models; unbounded growth would pin every historical fit for the
    * session's life). Known limit, documented not fixed: the identity
    * is metadata (path+mtime+size), so an in-place rewrite preserving
    * all three within mtime granularity would reuse stale weights — a
    * content fingerprint would cost a full data read per lookup, which
    * defeats the cache; re-provisioned data normally changes mtime.
    */
  private val weightCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Array[Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[Long]]): Boolean = size() > 64
    })

  /** Score every row of `df` with the given weights: (id, wq0..wq3,
    * p_q, keep). The weight columns expose the training trajectory to
    * the oracle — a fit that diverges by even one quantum hash-fails
    * on every row, not just near the keep boundary.
    */
  def scoreWith(df: DataFrame, id: Column, text: Column,
                wq: Array[Long]): DataFrame = {
    val withFeats = df.select(Seq(id.as("__id")) ++
      featureCols(text).zipWithIndex.map { case (c, j) => c.as(s"f$j") }: _*)
    val p = scoreQ(wq)
    withFeats.select(Seq(col("__id")) ++
      wq.zipWithIndex.map { case (w, j) => lit(w).as(s"wq$j") } ++
      Seq(p.as("p_q"), (p >= lit(KeepThresholdQ)).as("keep")): _*)
  }

  /** Fit on `df`'s sample, score every row of `df` ([[scoreWith]]).
    * `cacheKey` (a data-identity string) opts into the train-once
    * weight cache; None always retrains.
    */
  def trainedScore(df: DataFrame, id: Column, text: Column,
                   sampleMod: Int = DefaultSampleMod, steps: Int = DefaultSteps,
                   lr: Double = DefaultLr,
                   cacheKey: Option[String] = None): DataFrame = {
    val wq = cacheKey match {
      case Some(k) =>
        // fit OUTSIDE the map lock: computeIfAbsent would hold the
        // (whole-map) mutex for the multi-second training run, blocking
        // every concurrent cache HIT on an unrelated key. The
        // get/fit/putIfAbsent race can at worst duplicate a fit — the
        // weights are deterministic, so both racers compute the same
        // four longs and correctness is unaffected.
        val key = s"$k|m=$sampleMod|s=$steps|lr=$lr"
        Option(weightCache.get(key)).getOrElse {
          val fitted = fit(df, id, text, sampleMod, steps, lr)
          Option(weightCache.putIfAbsent(key, fitted)).getOrElse(fitted)
        }
      case None => fit(df, id, text, sampleMod, steps, lr)
    }
    scoreWith(df, id, text, wq)
  }

  /** The DuckDB mirror REPLICATES THE TRAINING: K gradient steps
    * unrolled as CTE pairs (gradient sums, weight update), the same
    * integer/double operation sequence as [[fit]], then the final
    * weights score every document. `src` is any FROM-able source with
    * columns `idCol` and `x`.
    */
  def trainedScoreSql(idCol: String, x: String, src: String,
                      sampleMod: Int = DefaultSampleMod, steps: Int = DefaultSteps,
                      lr: Double = DefaultLr): String = {
    val feats = featureColsSql(x)
    val fSel = feats.zipWithIndex.map { case (e, j) => s"$e AS f$j" }.mkString(", ")
    def zSql(f: String, w: String): String =
      (0 until Dim).map(j =>
        s"(CAST($w.w$j AS DOUBLE) / 1000000.0) * (CAST($f.f$j AS DOUBLE) / 1000000.0)")
        .mkString(" + ")
    def sigSql(z: String): String =
      s"CAST(floor(1000000.0 / (1.0 + exp(-($z)))) AS BIGINT)"
    val fCte =
      s"""f AS MATERIALIZED (SELECT $idCol, $fSel,
         |  CASE WHEN ${TextAnalysis.gopherPassSql(x)} THEN CAST(1000000 AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS y
         |  FROM $src WHERE $idCol % $sampleMod = 0)""".stripMargin
    val w0 = s"w0 AS MATERIALIZED (SELECT ${(0 until Dim).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")})"
    val stepCtes = (1 to steps).flatMap { t =>
      val sig = sigSql(zSql("f", s"w${t - 1}"))
      val g = s"g$t AS MATERIALIZED (SELECT ${(0 until Dim).map(j =>
        s"sum(($sig - f.y) * f.f$j) AS g$j").mkString(", ")}, count(*) AS n " +
        s"FROM f, w${t - 1})"
      val w = s"w$t AS MATERIALIZED (SELECT ${(0 until Dim).map(j =>
        s"w${t - 1}.w$j - CAST(floor($lr * (CAST(g$t.g$j AS DOUBLE) / " +
          s"CAST(g$t.n AS DOUBLE)) / 1000000.0) AS BIGINT) AS w$j").mkString(", ")} " +
        s"FROM g$t, w${t - 1})"
      Seq(g, w)
    }
    val wf = s"w$steps"
    val pSql = sigSql(zSql("a", wf))
    s"""WITH $fCte,
       |$w0,
       |${stepCtes.mkString(",\n")},
       |a AS MATERIALIZED (SELECT $idCol, $fSel FROM $src)
       |SELECT a.$idCol, ${(0 until Dim).map(j => s"$wf.w$j AS wq$j").mkString(", ")},
       |  $pSql AS p_q, ($pSql >= $KeepThresholdQ) AS keep
       |FROM a, $wf""".stripMargin
  }
}
