package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.{TextAnalysis => TA}

/** Value parity of the native text expressions (r21, guide §4) against
  * the pure-Column HOF references they replaced: same tokenization,
  * same int/double operation order, same regex semantics — asserted
  * cell-for-cell over the sf0.001 document corpus plus an adversarial
  * set (empty/whitespace-only strings, unicode incl. final-sigma and
  * astral chars, every `\s` class member, `$`-terminator line endings,
  * threshold-straddling Gopher docs, stacked PII). The DuckDB oracle
  * re-gates the same values end-to-end through the `*Sql` mirrors.
  */
class TextExprsSpec extends SparkSpec {

  private val adversarial = Seq(
    null,
    "",
    " ",
    "   ",
    "\t",
    "\n",
    "\f\r",
    "a",
    "a b\t",          // trailing separator keeps a trailing empty token
    " a b",           // leading space trimmed; leading tab is not
    "\ta b",
    "the and of to is in that with",
    "der die das und ist nicht ein mit",
    "le la les et est un une dans",
    "the und le",     // cross-language tie-break
    "émojis 🎉 中文 text",
    "ΑΣ ΣΟΦΟΣ Σ",     // final-sigma contextual lowercasing
    "a\u00A0b",      // NBSP is NOT \s — stays one token
    "x # ## #tag",
    "- bullet\n * star\n-dash\nplain",
    "end...\nmid... \ntail...\r\nnone",
    "...",
    "line\r\nwindows\r\n",
    "alice@real.test called (555) 123-4567 from 10.1.2.3",
    "card 4111 1111 1111 1111 and 2001:db8:85a3::8a2e:370:7334 ok",
    "v1.2.3.4 release fd::read bad::cast 999.999.999.999",
    "mail.to@x.io.uk end",
    ("the quick brown fox jumps over the lazy dog and then " * 8).trim,
    (Seq.fill(60)("repeat me").mkString(" ")),
    (1 to 60).map(i => s"tok$i").mkString(" "),
    ((1 to 60).map(i => s"tok$i").mkString(" ") + " " +
      "the be to of and that have with"),
    "# " * 60,
    "....... " * 60
  )

  private def corpus = {
    val schema = StructType(Seq(StructField("text", StringType, nullable = true)))
    val adv = spark.createDataFrame(
      spark.sparkContext.parallelize(adversarial.map(Row(_)), 2), schema)
    Tables.documents(spark, sfDir).select(col("text")).union(adv)
  }

  private def assertParity(name: String)(native: org.apache.spark.sql.Column,
                                         reference: org.apache.spark.sql.Column): Unit = {
    val rows = corpus
      .select(col("text"), native.as("nat"), reference.as("ref"))
      .filter(!(col("nat") <=> col("ref")))
      .limit(5).collect()
    assert(rows.isEmpty,
      s"$name diverged on ${rows.length}+ rows, e.g. " +
        rows.take(2).map(r => s"text=${r.get(0)} native=${r.get(1)} ref=${r.get(2)}")
          .mkString("; "))
  }

  test("tokenCount: native == HOF reference") {
    assertParity("tokenCount")(TA.tokenCount(col("text")), TA.tokenCountHof(col("text")))
  }

  test("gopherPass: native == HOF reference") {
    assertParity("gopherPass")(TA.gopherPass(col("text")), TA.gopherPassHof(col("text")))
  }

  test("langId: native == HOF reference") {
    assertParity("langId")(TA.langId(col("text")), TA.langIdHof(col("text")))
  }

  test("qualityScore: native == HOF reference (bit-exact doubles)") {
    assertParity("qualityScore")(TA.qualityScore(col("text")), TA.qualityScoreHof(col("text")))
  }

  test("scrubPii: native == HOF reference") {
    assertParity("scrubPii")(TA.scrubPii(col("text")), TA.scrubPiiHof(col("text")))
  }

  test("repetitionRatio: native == HOF reference for n=2 and n=3") {
    assertParity("repetitionRatio(2)")(
      TA.repetitionRatio(col("text"), 2), TA.repetitionRatioHof(col("text"), 2))
    assertParity("repetitionRatio(3)")(
      TA.repetitionRatio(col("text"), 3), TA.repetitionRatioHof(col("text"), 3))
  }

  test("wordNgrams native == HOF reference (raw, distinct, sorted) for n=1..3") {
    for (n <- 1 to 3) {
      assertParity(s"wordNgrams($n)")(
        TA.wordNgrams(col("text"), n), TA.wordNgramsHof(col("text"), n))
      assertParity(s"wordNgramsDistinct($n)")(
        TA.wordNgramsDistinct(col("text"), n),
        array_distinct(TA.wordNgramsHof(col("text"), n)))
      assertParity(s"wordNgramsSorted($n)")(
        TA.wordNgramsSorted(col("text"), n),
        array_sort(array_distinct(TA.wordNgramsHof(col("text"), n))))
    }
  }

  test("sorted-merge Jaccard == array_intersect formula on sorted-distinct arrays") {
    val ga = TA.wordNgramsSorted(col("text"), 3)
    // a deterministic second doc derived from the first so pairs vary
    val gb = TA.wordNgramsSorted(upper(col("text")), 3)
    val native = call_function("graft_jaccard_sorted", ga, gb)
    val inter = size(array_intersect(ga, gb)).cast("long")
    val ref = inter.cast("double") / (size(ga) + size(gb) - inter).cast("double")
    // the 0/0 case is unreachable in production (empty gram sets never
    // become candidates: they have no prefix rows and no bands) and ANSI
    // mode makes the REFERENCE division throw there, so parity runs on
    // the reachable domain; the native 0/0 edge is asserted below
    val rows = corpus
      .filter(size(ga) + size(gb) > 0)
      .select(native.as("nat"), ref.as("ref"))
      .filter(!(col("nat") <=> col("ref")))
      .limit(5).collect()
    assert(rows.isEmpty, s"jaccardSorted diverged: ${rows.mkString("; ")}")
    import spark.implicits._
    val empty = Seq(("a", "b")).toDF("x", "y")
      .select(call_function("graft_jaccard_sorted",
        TA.wordNgramsSorted(col("x"), 3), TA.wordNgramsSorted(col("y"), 3)))
      .head().getDouble(0)
    // NaN sorts above every double in Spark, so it would pass a
    // `>= threshold` filter; two empty gram sets share nothing
    assert(empty == 0.0, s"0/0 must be 0.0, got $empty")
  }

  test("md5 prefix: digest-byte assembly == conv(substring(md5(...))) for 1/8/15 hex chars") {
    for (hc <- Seq(1, 8, 15)) {
      assertParity(s"md5PrefixLong($hc)")(
        TA.md5PrefixLong(col("text"), hc), TA.md5PrefixLongHof(col("text"), hc))
    }
  }

  test("DSIR feature buckets: native == HOF reference") {
    assertParity("featureBuckets")(
      graft.ops.Selection.featureBuckets(col("text"), 4096),
      graft.ops.Selection.featureBucketsHof(col("text"), 4096))
    assertParity("featureBuckets(7)")(
      graft.ops.Selection.featureBuckets(col("text"), 7),
      graft.ops.Selection.featureBucketsHof(col("text"), 7))
  }

  test("native expressions stay inside whole-stage codegen (no CodegenFallback)") {
    val df = Tables.documents(spark, sfDir).select(
      TA.tokenCount(col("text")), TA.gopherPass(col("text")), TA.langId(col("text")),
      TA.qualityScore(col("text")), TA.scrubPii(col("text")),
      TA.repetitionRatio(col("text"), 2))
    // the `*(n)` prefix is the whole-stage-codegen marker in the
    // executed plan's string form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("known values: the gate, language and scrub behave as documented") {
    import spark.implicits._
    val prose = ("the cat sat on the mat and that was fine with everyone involved " +
      "because nothing else happened that day beyond a quiet walk in the park " +
      "which made for a calm afternoon and a pleasant evening meal with friends " +
      "followed by tea and a short story read aloud to close the night").trim
    val df = Seq(prose).toDF("text")
    val r = df.select(TA.gopherPass($"text"), TA.langId($"text"),
      TA.tokenCount($"text")).head()
    assert(r.getBoolean(0), "plain English prose must pass the Gopher gate")
    assert(r.getString(1) == "en")
    assert(r.getInt(2) == prose.split("\\s+").length)
    val scrubbed = Seq("write alice@real.test or call (555) 123-4567")
      .toDF("text").select(TA.scrubPii($"text")).head().getString(0)
    assert(scrubbed == "write <EMAIL> or call <PHONE>", scrubbed)
  }
}
