package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer-training corpus statistics: the unigram vocabulary and the
  * adjacent-pair counts that seed BPE merges.
  *
  * Scale shape: both are wordcount — explode once, one groupBy shuffle
  * on the token/pair key with map-side partial aggregation, then
  * `orderBy(...).limit(k)` which Spark plans as TakeOrderedAndProject
  * (per-partition top-k, driver merges k·partitions rows — never a
  * global sort of the vocabulary). Deterministic output via the
  * (count desc, key asc) tie-break.
  */
object Vocab {

  /** Top-`k` whitespace tokens (lowercased) by count. */
  def topTokens(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.select(explode(TextAnalysis.tokens(text)).as("token"))
      // empty/whitespace-only docs split to [""] — not a vocabulary entry
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
  }

  /** Joiner char marking merged symbols in [[bpeMergeRounds]] — outside
    * every pre-token class (pre-tokens are letter runs / digits / single
    * marks, and control chars only appear as their own single-char
    * token, never inside one), so a merged symbol cannot collide with a
    * later pair key by accident. chr(1) in the DuckDB mirror.
    */
  private[graft] val MergeJoiner = "\u0001"

  /** `k` rounds of GREEDY BPE merges over the corpus pre-token stream —
    * the actual trainer loop, not just the round-1 candidate table
    * ([[topBpePairs]]): each round counts adjacent-pair frequencies,
    * takes the single most frequent pair (ties broken by pair text, so
    * the choice is deterministic cross-engine), rewrites every
    * occurrence (leftmost non-overlapping, the standard greedy BPE
    * application — both engines' literal `replace` semantics), and
    * repeats on the rewritten stream. Returns the merge table
    * (merge_rank, pair, n) a tokenizer would apply in rank order.
    *
    * Scale shape: the FK-closure pattern — a driver loop of `k` tiny
    * top-1 aggregations (each collects ONE row; the corpus itself never
    * leaves the executors) over a `localCheckpoint`ed rewrite, so round
    * i's plan reads round i-1's materialized blocks instead of
    * replaying i-1 rewrite stages. Each round is one wordcount shuffle
    * + a narrow string rewrite — at 100 TB a real deployment trains on
    * a corpus sample, exactly as this runs on whatever `df` it is
    * given. Stops early if no adjacent pairs remain.
    */
  def bpeMergeRounds(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // sentinel-padded pre-token stream with TWO-space gaps
    // ("  t1  t2  ...  tn  "): a pair match "␣a␣␣b␣" consumes one space
    // of each flanking gap, leaving the other intact — so consecutive
    // DISJOINT occurrences ("a b a b" → both merge) don't steal each
    // other's delimiter, while occurrences sharing a middle token
    // ("b b b" → only the first merges) still exclude each other:
    // exactly greedy leftmost non-overlapping BPE application. A
    // single-space scheme gets this wrong — the shared delimiter makes
    // `replace` skip every other adjacent occurrence. The two-space
    // invariant is restored by each rewrite (1 leftover + 1 replacement
    // space per side); token boundaries stay unmergeable ("b a" inside
    // "ab  a" never matches "␣b␣␣a␣").
    var corpus = Pins.checkpoint(df.select(
        concat(lit("  "),
          concat_ws("  ", regexp_extract_all(lower(text), lit(TextAnalysis.BpeClass), lit(0))),
          lit("  ")).as("s")), "vocab.bpe.corpus")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val toks = split(trim(col("s")), " +")
      val pairs = TextAnalysis.bound(toks) { a =>
        when(size(a) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(a) - 1),
            i => concat(element_at(a, i), lit(" "), element_at(a, i + 1))))
      }
      val top = corpus.select(explode(pairs).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1)
        .as[(String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val (pair, n) = top(0)
        merges += ((round, pair, n))
        // the round-k rewrite feeds nothing (the trainer returns only the
        // merge table) — materializing it was a full wasted corpus pass
        // per training run (r20 optimization; measured as one eager
        // checkpoint job removed from x_bpe_merges_k AND x_bpe_encode)
        if (round < k) {
          corpus = Pins.checkpoint(corpus.select(
              replace(col("s"), lit(" " + pair.replace(" ", "  ") + " "),
                lit(" " + pair.replace(" ", MergeJoiner) + " ")).as("s")), "vocab.bpe.corpus")
        }
        round += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "pair", "n")
  }

  /** CCNet-style corpus-LM quality signal: per-doc average natural-log
    * unigram probability and the derived perplexity, with the unigram
    * model trained on the corpus itself (add-one smoothing over the
    * corpus vocabulary — every doc token is in-vocabulary by
    * construction, smoothing just keeps the estimator proper). Low
    * log-prob = token-soup/boilerplate, the published perplexity-filter
    * move (Wenzek et al., "CCNet", LREC'20) with the KenLM stand-in
    * reduced to portable arithmetic.
    *
    * Scale shape: ONE corpus pass builds the (token, count) model (a
    * wordcount shuffle), whose grand totals reduce to a 1-row frame
    * cross-joined back (broadcast, nothing on the driver); scoring is
    * the token explode joined to the model on the token key, then a
    * per-doc average. Outputs are rounded to 6 decimals so libm `ln`
    * ulp differences between engines can't flip the DuckDB hash.
    */
  def unigramLogProb(df: DataFrame, id: String, text: Column): DataFrame = {
    val toks = df.select(col(id), explode(TextAnalysis.tokens(text)).as("token"))
      .filter(col("token") =!= "")
    // r20: the (token, c) model feeds BOTH the totals aggregate and the
    // scoring join — unpinned, each consumer re-ran the corpus explode
    // + wordcount shuffle (AQE exchange reuse is a runtime gamble, the
    // r14/r15 lesson); the pin is vocabulary-sized, not corpus-sized
    val model = Pins.checkpoint(
      toks.groupBy(col("token")).agg(count(lit(1)).as("c")), "vocab.model")
    val totals = model.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v"))
    val scored = toks.join(model, Seq("token"))
      .crossJoin(broadcast(totals))
      .select(col(id),
        log((col("c") + 1).cast("double") / (col("n_total") + col("v")).cast("double")).as("lp"))
    // Cross-engine determinism, two rules learned the hard way:
    //  - SUM in decimal (scale 3): float addition is order-dependent
    //    across partitionings, decimal is not; and `ln` is libm (≤1 ulp
    //    JVM-vs-DuckDB) while the engines' double→decimal conversions
    //    round different decimal expansions, so scale 6 flips a
    //    boundary with probability ~3e-4 per distinct value (observed
    //    at sf0.1) — scale 3 widens the margin ~10⁶×.
    //  - DIVIDE in double, not decimal: the engines' decimal-division
    //    scale/rounding rules differ at the 1e-6 level (also observed),
    //    whereas double division of identical inputs is IEEE
    //    correctly-rounded, hence bit-identical. The decimal→double
    //    cast itself is correctly rounded on both sides.
    //  - avg_logprob ships UNROUNDED: the quotient is a low-denominator
    //    rational (scale-3 sum / token count), so rounding it hits
    //    EXACT decimal ties (e.g. -272.325/80 = -3.4040625, observed)
    //    that the engines break differently — while the unrounded
    //    double is bit-identical by the two rules above. ppl rounds at
    //    scale 3: exp outputs are transcendental, never exact ties, and
    //    the libm 1-ulp window is ~1e-11 of the spacing.
    val stableAvg =
      sum(col("lp").cast("decimal(18,3)")).cast("double") / count(col("lp")).cast("double")
    scored.groupBy(col(id))
      .agg(stableAvg.as("avg_logprob"),
        round(exp(-stableAvg), 3).as("ppl"))
  }

  /** Apply trained BPE merges to every document — the ENCODE side of
    * [[bpeMergeRounds]]'s trainer, completing the train→apply
    * tokenizer lifecycle: `merges` (rank-ordered pair strings from the
    * trainer) rewrite each doc's pre-token stream in order with the
    * trainer's exact two-space sentinel scheme (greedy leftmost
    * non-overlapping application — see the trainer's comment), then
    * the stream normalizes to single spaces. Emits (doc_id, encoded,
    * n_bpe_tokens). Pure narrow per-row work: the merge table is tiny
    * driver state baked into a codegen'd `replace` chain — k merges =
    * k string passes per row, zero shuffles, no UDF.
    */
  def bpeEncode(df: DataFrame, id: String, text: Column,
                merges: Seq[String]): DataFrame = {
    val stream0 = concat(lit("  "),
      concat_ws("  ", regexp_extract_all(lower(text), lit(TextAnalysis.BpeClass), lit(0))),
      lit("  "))
    val encoded = merges.foldLeft(stream0) { (s, pair) =>
      replace(s, lit(" " + pair.replace(" ", "  ") + " "),
        lit(" " + pair.replace(" ", MergeJoiner) + " "))
    }
    df.select(col(id).as("doc_id"),
      regexp_replace(trim(encoded), " +", " ").as("encoded"),
      size(split(trim(encoded), " +")).cast("long").as("n_bpe_tokens"))
  }

  /** Per-doc average add-one BIGRAM log-probability + perplexity — the
    * conditional-LM upgrade of [[unigramLogProb]] (CCNet-style corpus
    * LM filtering, one order up): lp(w_i) = ln((c(w_{i-1} w_i) + 1) /
    * (c(w_{i-1} ·) + V)) with V = distinct unigram vocabulary. Docs
    * with fewer than two tokens have no bigrams and drop out (both
    * engines identically).
    *
    * Scale shape: one bigram wordcount shuffle builds the model; the
    * context-count table derives from the MODEL (vocabulary-sized, not
    * corpus-sized) and meets the per-doc bigrams in a w1-keyed
    * equi-join; the 1-row vocab total broadcasts. Same decimal-sum /
    * double-divide / round-only-ppl determinism rules as unigram —
    * see the comment there for why each is load-bearing.
    */
  def bigramLogProb(df: DataFrame, id: String, text: Column): DataFrame = {
    val toksA = TextAnalysis.tokens(text)
    val bigr = TextAnalysis.bound(toksA) { a =>
      when(size(a) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(a) - 1),
          i => concat_ws(" ", element_at(a, i), element_at(a, i + 1))))
    }
    val docBi = df.select(col(id), explode(bigr).as("bigram"))
    // r20: model feeds the context-count derivation AND the scoring
    // join — pin once (vocabulary-sized), see unigramLogProb
    val model = Pins.checkpoint(
      docBi.groupBy(col("bigram")).agg(count(lit(1)).as("c")), "vocab.model")
    val ctx = model
      .select(substring_index(col("bigram"), " ", 1).as("w1"), col("c"))
      .groupBy(col("w1")).agg(sum(col("c")).as("cc"))
    val vTot = df.select(explode(toksA).as("token"))
      .filter(col("token") =!= "")
      .agg(countDistinct(col("token")).as("v"))
    val scored = docBi.join(model, Seq("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vTot))
      .select(col(id),
        log((col("c") + 1).cast("double") / (col("cc") + col("v")).cast("double")).as("lp"))
    val stableAvg =
      sum(col("lp").cast("decimal(18,3)")).cast("double") / count(col("lp")).cast("double")
    scored.groupBy(col(id))
      .agg(stableAvg.as("avg_logprob"),
        round(exp(-stableAvg), 3).as("ppl"))
  }

  /** Per-doc average INTERPOLATED KNESER-NEY bigram log-probability +
    * perplexity (Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.25) —
    * the smoothing the real KenLM filters (CCNet) use, replacing
    * [[bigramLogProb]]'s add-one stand-in with absolute discounting
    * plus the continuation-probability backoff:
    *
    *   P(w2|w1) = (max(c(w1 w2) − D, 0) + D · N1+(w1 ·) · Pcont(w2)) / c(w1 ·)
    *   Pcont(w2) = N1+(· w2) / N1+(· ·)
    *
    * where N1+ counts distinct bigram TYPES. The per-context kernel sums
    * to exactly 1 over the continuation vocabulary (the discount mass
    * D·N1+(w1 ·) redistributes via Pcont — spec-pinned), so this is a
    * proper conditional LM, unlike add-one's vocabulary-diluted one.
    *
    * Cross-engine exactness: every count is an integer; the probability
    * is a fixed dag of correctly-rounded double ops (exact casts below
    * 2^52, one subtraction, two products, two divisions, one addition —
    * IEEE-identical in any engine when mirrored in the same order); the
    * single transcendental `ln` is floor-quantized to integer millionths
    * per OCCURRENCE, so each doc's sum is an exact long and the average
    * a deterministic double. Only the reported perplexity rounds (scale
    * 3, transcendental output).
    *
    * Scale shape: one (w1, w2) wordcount shuffle builds the model; the
    * context (cc, N1+(w1 ·)), continuation N1+(· w2), and 1-row type
    * total all derive from the MODEL (vocabulary-sized, never a second
    * corpus pass); scoring meets the per-doc bigrams in w1-/w2-keyed
    * equi-joins with the total broadcast.
    */
  def knBigramLogProb(df: DataFrame, id: String, text: Column,
                      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1), got $discount")
    val toksA = TextAnalysis.tokens(text)
    val pairs = TextAnalysis.bound(toksA) { a =>
      when(size(a) < 2, array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(a) - 1),
          i => struct(element_at(a, i).as("w1"), element_at(a, i + 1).as("w2"))))
    }
    val docBi = df.select(col(id), explode(pairs).as("bg"))
      .select(col(id), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // r20: model feeds FOUR consumers (ctx, cont, tot, scoring join) —
    // unpinned, each re-ran the corpus bigram explode + count shuffle;
    // one vocabulary-sized pin replaces three redundant corpus passes
    val model = Pins.checkpoint(
      docBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")), "vocab.model")
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("c")).as("cc"), count(lit(1)).as("n1f"))
    val cont = model.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val tot = model.agg(count(lit(1)).as("ntypes"))
    val p = (greatest(col("c").cast("double") - lit(discount), lit(0.0)) +
        lit(discount) * col("n1f").cast("double") * col("n1b").cast("double") /
          col("ntypes").cast("double")) /
      col("cc").cast("double")
    val scored = docBi
      .join(model, Seq("w1", "w2")).join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col(id), floor(lit(1e6) * log(p)).cast("long").as("lpq"))
    val avg = col("s").cast("double") / lit(1e6) / col("n").cast("double")
    scored.groupBy(col(id))
      .agg(sum(col("lpq")).as("s"), count(lit(1)).as("n"))
      .select(col(id), avg.as("avg_logprob"), round(exp(-avg), 3).as("ppl"))
  }

  /** DuckDB mirror of [[knBigramLogProb]] — the identical counts and
    * the identical double-op ORDER ahead of the one quantized `ln`.
    */
  def knBigramLogProbSql(idCol: String, x: String, discount: Double = 0.75): String = {
    val d = discount.toString
    raw"""WITH toks AS (SELECT $idCol, regexp_split_to_array(lower(trim($x)), '\s+') AS a FROM documents),
         |bg AS MATERIALIZED (SELECT $idCol, s['w1'] AS w1, s['w2'] AS w2 FROM
         |  (SELECT $idCol, unnest(CASE WHEN len(a) < 2 THEN []
         |     ELSE [{'w1': a[i], 'w2': a[i+1]} FOR i IN range(1, len(a))] END) AS s FROM toks)),
         |model AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cc, count(*) AS n1f FROM model GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS n1b FROM model GROUP BY 1),
         |tot AS (SELECT count(*) AS ntypes FROM model),
         |scored AS (SELECT bg.$idCol,
         |  CAST(floor(1000000 * ln(
         |    (greatest(CAST(c AS DOUBLE) - $d, 0.0)
         |     + $d * CAST(n1f AS DOUBLE) * CAST(n1b AS DOUBLE) / CAST(ntypes AS DOUBLE))
         |    / CAST(cc AS DOUBLE))) AS BIGINT) AS lpq
         |  FROM bg JOIN model USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot),
         |a AS (SELECT $idCol, CAST(SUM(lpq) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE) AS avg_lp
         |  FROM scored GROUP BY 1)
         |SELECT $idCol, avg_lp AS avg_logprob, round(exp(-avg_lp), 3) AS ppl FROM a""".stripMargin
  }

  /** CCNet-style per-language perplexity tiers (Wenzek et al., "CCNet",
    * LREC 2020 §4.4): score every doc with the corpus-trained unigram LM
    * ([[unigramLogProb]]), then split each language into equal head /
    * middle / tail terciles by perplexity ascending — head is the
    * fluent third the paper keeps for LM pretraining, tail the
    * boilerplate third it drops. Ties break on doc id so the tiling is
    * a total order and cross-engine deterministic (ppl is already
    * rounded to scale 3 by the scorer, so the sort key itself is
    * hash-stable).
    *
    * Scale shape: the model pass is unigramLogProb's (one wordcount
    * shuffle + a token-keyed equi-join); the tiling windows over the
    * SKINNY (doc, lang, ppl) projection partitioned by language — the
    * text never enters the sort, and the per-language partitions are
    * the natural shuffle unit. At extreme scale swap the exact tercile
    * for threshold assignment off a sampled quantile sketch (a narrow
    * map against broadcast cutoffs); the exact form is what the oracle
    * can hash-check.
    */
  def perplexityBuckets(df: DataFrame, id: String, text: Column,
                        lang: Column,
                        scorer: (DataFrame, String, Column) => DataFrame =
                          unigramLogProb): DataFrame = {
    val ppl = scorer(df, id, text).select(col(id), col("ppl"))
    val tercile = org.apache.spark.sql.functions.ntile(3).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("ppl"), col(id)))
    df.select(col(id), lang.as("lang")).join(ppl, Seq(id))
      .select(col(id), col("lang"), col("ppl"),
        when(tercile === 1, "head").when(tercile === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Top-`k` TF-IDF terms per document — the topical-keyword extraction
    * a curation pipeline runs for domain filtering. tf = in-doc count,
    * idf = ln(nDocs / df); ties broken by term text, so selection is
    * deterministic cross-engine. One explode + two groupBy shuffles +
    * a doc-keyed window top-k; the df model and the per-doc scoring
    * meet in a token-keyed equi-join, never a cross join (the 1-row
    * doc-count frame broadcasts).
    */
  def tfIdfTopTerms(df: DataFrame, id: String, text: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = df.select(col(id), explode(TextAnalysis.tokens(text)).as("token"))
      .filter(col("token") =!= "")
    // r20: tf feeds the document-frequency derivation AND the scoring
    // join — pin once ((doc, term)-sized, the explode already collapsed)
    val tf = Pins.checkpoint(
      toks.groupBy(col(id), col("token")).agg(count(lit(1)).as("tf")), "vocab.tf")
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(col(id)).distinct().agg(count(lit(1)).as("n_docs"))
    // scale-3 rounding, same rationale as unigramLogProb: the rank is
    // computed ON the rounded score, so a cross-engine rounding flip
    // would reorder the top-k — scale 3 makes that window ~1e-12/value
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 3))
    val rnk = "__graft_rnk"
    scored.withColumn(rnk,
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(id))
            .orderBy(col("tfidf").desc, col("token").asc)))
      .filter(col(rnk) <= k)
      .select(col(id), col("token"), col("tfidf"))
  }

  /** BM25 top-`k` retrieval (Robertson/Sparck-Jones idf with the usual
    * +0.5 smoothing; k1/b the standard Okapi defaults): score every
    * document against `queryTerms` and keep the best `k` — the
    * benchmark-similar-document mining move (retrieve the corpus docs
    * closest to an eval set before a decontamination decision) and the
    * lexical half of any retrieval pipeline.
    *
    * Scale shape: document length is a NARROW per-row expression (no
    * explode for dl); the only corpus-sized shuffle is the tf count,
    * whose explode is filtered to the query-term set map-side so just
    * the hits cross the exchange. dfreq and the corpus stats are
    * tiny-by-construction frames broadcast back, and the final top-k is
    * `orderBy(...).limit(k)` — TakeOrderedAndProject, never a global
    * sort. Determinism cross-engine: per-term contributions are IEEE
    * double arithmetic in mirrored operation order (constants embedded
    * via `Double.toString` so both engines parse the identical double),
    * the per-doc sum runs in decimal (order-free; scale 3 keeps the
    * libm-`ln` ulp window ~1e-12/value), ties break on doc id.
    * Documents with no query-term hit score nothing and are absent —
    * retrieval, not scoring-of-everything.
    */
  def bm25TopK(df: DataFrame, id: String, text: Column, queryTerms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term required")
    val terms = queryTerms.map(_.toLowerCase).distinct
    // narrow per-row doc length: the filtered split, no explode
    val dlExpr = size(filter(TextAnalysis.tokens(text), t => t =!= ""))
    // r20: pinned — tf and dl each feed two scoring-tail consumers
    // (dfreq + the contribution join; corpus stats + the same join),
    // and unpinned each consumer re-tokenized the corpus. The pins are
    // skinny (term-filtered hits; (id, dl) pairs) and live HERE, not in
    // the shared tail: the indexed path's inputs are pruned parquet
    // artifact scans whose IN-pushdown a pin would hide (PlanSpec) —
    // re-reading a pruned postings scan twice is the cheaper shape.
    val dl = Pins.checkpoint(df.select(col(id), dlExpr.as("dl")), "vocab.dl")
    val tf = Pins.checkpoint(df.select(col(id), explode(TextAnalysis.tokens(text)).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf")), "vocab.tf")
    bm25ScoreTopK(tf, dl, id, k, k1, b)
  }

  /** Shared BM25 scoring tail: `tf` = (id, token, tf) restricted to the
    * query terms, `dl` = (id, dl) over the WHOLE corpus. Expression
    * structure is the contract — [[bm25TopKSql]] mirrors it literally,
    * so live-scan and indexed paths both hash-match the same oracle.
    */
  private def bm25ScoreTopK(tf0: DataFrame, dl0: DataFrame, id: String,
                            k: Int, k1: Double, b: Double): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 must be >= 0 and b in [0, 1]")
    // (pinning decisions belong to the callers — see bm25TopK)
    val tf = tf0
    val dl = dl0
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl").cast("decimal(18,0)")).cast("double")
        / count(lit(1)).cast("double")).as("avgdl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("dft"))
    val dftD = col("dft").cast("double")
    val tfD = col("tf").cast("double")
    val contrib = tf.join(broadcast(dfreq), Seq("token"))
      .join(dl, Seq(id))
      .crossJoin(broadcast(stats))
      .select(col(id),
        (log(lit(1.0) + (col("n_docs") - dftD + lit(0.5)) / (dftD + lit(0.5)))
          * (tfD * lit(k1 + 1.0))
          / (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
          .as("c"))
    contrib.groupBy(col(id))
      .agg(sum(col("c").cast("decimal(18,3)")).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col(id).asc)
      .limit(k)
  }

  /** The retrieval-side ingest artifact: the inverted postings list
    * (token, doc_id, tf) and the doc-length table (doc_id, dl) —
    * built once per corpus, persisted (parquet), and read by every
    * subsequent [[bm25TopKIndexed]] call, which then never re-tokenizes
    * the corpus. The same ingest-once lifecycle as the persisted LSH /
    * IVF-PQ-codes artifacts: at 100 TB the corpus text is scanned once
    * at ingest; steady-state retrieval touches only the postings rows
    * of the query's terms (an IN filter that reaches the parquet scan —
    * PlanSpec-asserted) plus the skinny doc-length table.
    */
  def buildBm25Index(df: DataFrame, id: String, text: Column): (DataFrame, DataFrame) = {
    val postings = df
      .select(col(id), explode(TextAnalysis.tokens(text)).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col(id)).agg(count(lit(1)).as("tf"))
    val doclens = df.select(col(id),
      size(filter(TextAnalysis.tokens(text), t => t =!= "")).as("dl"))
    (postings, doclens)
  }

  /** BM25 top-k against a persisted [[buildBm25Index]] artifact —
    * result identical to [[bm25TopK]] over the source corpus (same
    * scoring tail, same oracle), but the per-query cost is the
    * term-filtered postings scan, not a corpus re-tokenization.
    */
  def bm25TopKIndexed(postings: DataFrame, doclens: DataFrame, id: String,
                      queryTerms: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term required")
    val terms = queryTerms.map(_.toLowerCase).distinct
    bm25ScoreTopK(postings.filter(col("token").isin(terms: _*)), doclens, id, k, k1, b)
  }

  /** [[bm25TopK]] as DuckDB SQL over relation `documents` — identical
    * operation order per contribution, identical decimal sum, constants
    * serialized with `Double.toString` so both engines hold the same
    * binary double.
    */
  private[graft] def bm25TopKSql(queryTerms: Seq[String], k: Int,
                                 k1: Double = 1.2, b: Double = 0.75,
                                 rel: String = "documents"): String = {
    val terms = queryTerms.map(_.toLowerCase).distinct
      .map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val (k1s, k11s, bs, b1s) = (k1.toString, (k1 + 1.0).toString, b.toString, (1.0 - b).toString)
    raw"""WITH bmdl AS (SELECT doc_id,
         |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t != '')) AS dl
         |  FROM $rel),
         |bmstats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM bmdl),
         |bmtoks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token FROM $rel),
         |bmtf AS (SELECT doc_id, token, COUNT(*) AS tf FROM bmtoks
         |  WHERE token IN ($terms) GROUP BY 1, 2),
         |bmdf AS (SELECT token, COUNT(*) AS dft FROM bmtf GROUP BY 1),
         |bmc AS (SELECT t.doc_id,
         |    ln(1.0 + (s.n_docs - CAST(d.dft AS DOUBLE) + 0.5) / (CAST(d.dft AS DOUBLE) + 0.5))
         |      * (CAST(t.tf AS DOUBLE) * $k11s)
         |      / (CAST(t.tf AS DOUBLE) + $k1s * ($b1s + $bs * CAST(l.dl AS DOUBLE) / s.avgdl)) AS c
         |  FROM bmtf t JOIN bmdf d USING (token) JOIN bmdl l USING (doc_id) CROSS JOIN bmstats s)
         |SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(18,3))) AS DOUBLE) AS bm25
         |FROM bmc GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Top-`k` adjacent BPE pre-token pairs by count — the merge-candidate
    * table of a BPE trainer's first iteration. Pre-tokens follow
    * [[TextAnalysis.bpeTokenCount]]'s portable class (letter runs,
    * single digits, single marks); the pair key is the two pre-tokens
    * space-joined.
    */
  def topBpePairs(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = regexp_extract_all(lower(text), lit(TextAnalysis.BpeClass), lit(0))
    val pairs = TextAnalysis.bound(toks) { a =>
      when(size(a) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(a) - 1),
          i => concat(element_at(a, i), lit(" "), element_at(a, i + 1))))
    }
    df.select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }
}
