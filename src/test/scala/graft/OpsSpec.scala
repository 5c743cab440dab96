package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis => TA}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("tokenCount / fingerprint basics") {
    val df = Seq((1L, "The quick  brown fox"), (2L, "the QUICK brown   fox "), (3L, "x")).toDF("doc_id", "text")
    val tc = df.select(TA.tokenCount($"text")).as[Int].collect()
    assert(tc.toSeq == Seq(4, 4, 1))
    // fingerprint is whitespace/case insensitive → 1 and 2 collide
    val fps = df.select(TA.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("langId picks the dominant stopword language") {
    val df = Seq(
      "the cat and the dog is in that house with food",
      "der hund und die katze ist nicht ein problem mit",
      "le chat et la maison est un animal dans une ville",
      "zzz qqq www").toDF("text")
    val langs = df.select(TA.langId($"text")).as[String].collect()
    assert(langs.toSeq == Seq("en", "de", "fr", "und"))
  }

  test("ngramJaccardPairs finds the planted near-dups symmetric and thresholded") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"), // near-dup of 1
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", $"text", 3, 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash LSH recall vs exact jaccard on real documents") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", $"text", 3, 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", $"text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain near-dup documents")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (found ${lsh.size}, exact ${exact.size})")
  }

  test("minhash LSH exact-verified pairs: subset of exact jaccard, high recall") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", $"text", 3, 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val verified = Dedup.minhashLshExactPairs(docs, "doc_id", $"text", 3, 64, 16, 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // precision is exactly 1 by construction — the superset property the
    // x_minhash_lsh_precision oracle asserts cross-engine
    assert(verified.subsetOf(exact), s"false positives: ${verified.diff(exact)}")
    val recall = exact.count(verified.contains).toDouble / exact.size
    assert(recall >= 0.9, s"verified-LSH recall $recall too low")
  }

  test("portable simhash: deterministic, 60-bit, tracks document similarity") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words entirely unrelated content here now")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.simhashPortable($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
    // 60-bit signature: always non-negative, always below 2^60
    sh.values.foreach(v => assert(v >= 0 && v < (1L << 60)))
    // stable across evaluations (pure expression, no session state)
    val again = df.select(Dedup.simhashPortable($"text")).as[Long].collect()
    assert(again.toSeq == Seq(sh(1L), sh(2L), sh(3L)))
  }

  test("repetition ratio: 0 for unique grams, rises with repeats, 0 below n tokens") {
    val df = Seq(
      (1L, "a b c d e"),            // 4 distinct 2-grams, no repeats
      (2L, "a a a a"),              // 3 2-grams, 1 distinct → 2/3
      (3L, "x")                     // < n tokens → 0.0
    ).toDF("doc_id", "text")
    val r = df.select($"doc_id", TA.repetitionRatio($"text", 2).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) == 0.0)
    assert(math.abs(r(2L) - 2.0 / 3.0) < 1e-12)
    assert(r(3L) == 0.0)
  }

  test("winnowing fingerprints: shared long substring guarantees a shared print") {
    val shared = "uno dos tres cuatro cinco seis siete ocho" // 8 tokens ≥ w+k-1 = 7
    val df = Seq(
      (1L, s"prefix words here $shared and trailing content"),
      (2L, s"totally different beginning $shared other tail words"),
      (3L, "no overlap with anything else at all whatsoever here")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TA.winnowFingerprints($"text").as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty,
      "docs sharing 8 consecutive tokens must share a winnowed fingerprint")
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty)
    // deterministic, sorted, distinct
    assert(fps(1L) == fps(1L).distinct.sorted)
    // short doc (< k tokens) → empty fingerprint set, not an error
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(TA.winnowFingerprints($"text")).as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("winnow dup pairs: copied passage found across different docs, unrelated pairs absent") {
    val passage = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq(
      (1L, s"alpha beta $passage gamma delta epsilon zeta"),
      (2L, s"totally different framing text then $passage and some closing words"),
      (3L, "no shared passage here at all just regular unrelated content words"),
      (4L, "another fully unrelated document with its own vocabulary entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowDupPairs(df, "doc_id", $"text", k = 4, w = 4, minShared = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // 12 shared tokens ≥ w+k-1=7 → guaranteed shared print; with 12-4+1=9
    // shared gram hashes the windowed minima share ≥ 2 prints
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // the maxDocFreq guard drops boilerplate prints (passage in all docs)
    val boiler = Seq.tabulate(5)(i => (i.toLong, s"$passage tail$i")).toDF("doc_id", "text")
    val capped = Dedup.winnowDupPairs(boiler, "doc_id", $"text", 4, 4, 1, maxDocFreq = 3)
    assert(capped.isEmpty, "hot prints above maxDocFreq should generate no pairs")
  }

  test("contamination hits: planted benchmark overlap found, clean docs absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares 3-grams with bench
      (2L, "one two three four five")         // clean
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta zzz").toDF("text")
    val hits = Dedup.contaminationHits(corpus, "doc_id", $"text", bench, $"text", 3)
      .as[(Long, Long)].collect().toMap
    // shared distinct 3-grams: "alpha beta gamma", "beta gamma delta"
    assert(hits == Map(1L -> 2L))
  }

  test("bloom prefilter: no false negatives; bloom decontamination equals the exact join") {
    // expression semantics over a hand-built filter
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val verdicts = Seq(1L, 2L, 3L, 999999L).toDF("h")
      .select(call_function("graft_bloom_contains", lit(bos.toByteArray), $"h").as("m"))
      .as[Boolean].collect()
    assert(verdicts.take(3).forall(identity), "a Bloom filter must never miss a member")
    // hit-for-hit equality with contaminationHits on the live corpus —
    // the property that lets x_decontamination_bloom reuse the oracle
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val exact = Dedup.contaminationHits(corpus, "doc_id", $"text", bench, $"text", 3)
      .as[(Long, Long)].collect().toMap
    val bloomed = Dedup.contaminationHitsBloom(corpus, "doc_id", $"text", bench, $"text", 3)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "testdata must contain benchmark overlap")
    assert(bloomed == exact,
      s"bloom path diverged: only-exact=${(exact.toSet -- bloomed.toSet).take(3)} " +
        s"only-bloom=${(bloomed.toSet -- exact.toSet).take(3)}")
  }

  test("bloom decontamination: the prefilter sits BELOW the corpus-side join exchange") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val saved = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      // force the shuffle-join regime the prefilter exists for
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.ops.Dedup.contaminationHitsBloom(
          docs.filter($"source" =!= "src0"), "doc_id", $"text",
          docs.filter($"source" === "src0"), $"text", 3)
        .queryExecution.executedPlan
      val guarded = plan.collect {
        case e: ShuffleExchangeExec if e.exists {
          case f: FilterExec => f.condition.toString.contains("graft_bloom_contains")
          case _ => false
        } => e
      }
      assert(guarded.nonEmpty,
        "no shuffle exchange has the bloom prefilter below it — corpus grams " +
          "would cross the wire unthinned")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._2)
    }
  }

  test("simhash: identical docs distance 0, near-dups close, pairs found") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different words entirely unrelated content here now")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.simhash64($"text").as("sh"))
    val d12 = sh.as("l").join(sh.as("r"), $"l.doc_id" === 1 && $"r.doc_id" === 2)
      .select(Dedup.hamming64($"l.sh", $"r.sh")).as[Long].head()
    val d13 = sh.as("l").join(sh.as("r"), $"l.doc_id" === 1 && $"r.doc_id" === 3)
      .select(Dedup.hamming64($"l.sh", $"r.sh")).as[Long].head()
    assert(d12 < d13, s"near-dup hamming $d12 should be < unrelated $d13")
    val same = Seq((1L, "same text here"), (2L, "same text here")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(same, "doc_id", $"text", 0).collect()
    assert(pairs.length == 1 && pairs(0).getAs[Number]("hamming").longValue == 0L)
  }

  test("winnow: native fingerprints value-identical to the HOF formulation") {
    val cases = Tables.documents(spark, sfDir)
      .select($"text")
      .union(Seq("", "one", "one two three", "one two three four",
        "one two three four five six seven", "A  b\tC d e F g h").toDF("text"))
    for ((k, w) <- Seq((4, 4), (3, 5), (1, 1))) {
      val cmp = cases.select(
        TA.winnowFingerprints($"text", k, w).as("native"),
        TA.winnowFingerprintsHof($"text", k, w).as("hof"))
      assert(cmp.filter(!($"native" <=> $"hof")).count() == 0,
        s"native/HOF winnow divergence at k=$k w=$w")
    }
  }

  test("minhash: native signature value-identical to the HOF formulation") {
    val docs = Tables.documents(spark, sfDir)
      .select($"text")
      .union(Seq("", "one two", "one two three", "A  b\tC d").toDF("text"))
    val cmp = docs.select(
      Dedup.minhashSignature($"text", 3, 64).as("native"),
      Dedup.minhashSignatureHof($"text", 3, 64).as("hof"))
    // HOF yields an all-null array where native yields NULL; both mark
    // docs with < n tokens. Where defined, values must agree exactly.
    assert(cmp.filter($"native".isNull =!= $"hof".getItem(0).isNull).count() == 0)
    assert(cmp.filter($"native".isNotNull && !($"native" <=> $"hof")).count() == 0)
  }

  test("simhash: native expression bit-identical to the HOF formulation") {
    val docs = Tables.documents(spark, sfDir)
      .select($"text")
      .union(Seq("", "   ", "one", "Mixed CASE  spacing\ttabs").toDF("text"))
    val cmp = docs.select(
      Dedup.simhash64($"text").as("native"),
      Dedup.simhash64Hof($"text").as("hof"))
    assert(cmp.filter($"native" =!= $"hof").count() == 0)
  }

  test("vector natives: cosine and lsh bucket match the HOF formulations") {
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val pairs = emb.as("l").crossJoin(emb.as("r").limit(5))
    val ccmp = pairs.select(
      Similarity.cosine($"l.embedding", $"r.embedding").as("native"),
      Similarity.cosineHof($"l.embedding", $"r.embedding").as("hof"))
    assert(ccmp.filter(!($"native" <=> $"hof")).count() == 0)
    val planes = Similarity.hyperplanes(8, 64, 42L)
    val bcmp = emb.select(
      Similarity.lshBucket($"embedding", 8, 64, 42L).as("native"),
      Similarity.lshBucketHof($"embedding", planes).as("hof"))
    assert(bcmp.filter($"native" =!= $"hof").count() == 0)
  }

  test("cosine: orthogonal 0, identical 1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val sims = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("ANN LSH recall vs brute force on real embeddings") {
    // sf0.01 for a stable measurement (500 vectors, 10 queries); the
    // testdata embeddings are near-random (top-1 cosine ≈ 0.4), the
    // hardest regime for LSH — multi-probe + 4 tables is the config
    // that holds recall there.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = e.filter(pmod($"vec_id", lit(50)) === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(e, queries, "vec_id", "embedding", 5,
      numPlanes = 4, dim = 64, seeds = Seq(42L, 43L, 44L, 45L))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall $recall too low — LSH candidate generation is broken")
  }

  test("IVF-PQ: recall floor vs brute force, neighbors stay in the exact head") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = e.filter(pmod($"vec_id", lit(50)) === 0)
    val exactRank = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", 300)
      .select($"query_id", $"neighbor_id", $"rnk")
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, r) => (a, b) -> r }.toMap
    val exactTop5 = exactRank.collect { case (p, r) if r <= 5 => p }.toSet
    val approx = Similarity.ivfPqTopK(e, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exactTop5.count(approx.contains).toDouble / exactTop5.size
    info(f"IVF-PQ recall@5: $recall%.2f")
    // near-random embeddings (top-1 cosine ≈ 0.4) are the hardest
    // regime for a coarse quantizer — measured sweep: m=8/k=16 0.20,
    // m=16/k=16 0.40 (shipped), m=32/k=16 0.30; the floor proves the
    // codes carry real signal, not order
    assert(recall >= 0.3, s"IVF-PQ recall $recall too low — ADC ranking is broken")
    // every returned neighbor must sit in the exact head (the
    // containment contract the precision oracle uses, with margin)
    val ranks = approx.toSeq.map(p => exactRank.getOrElse(p, Int.MaxValue))
    info(s"IVF-PQ worst exact rank among returned: ${ranks.max}")
    assert(ranks.max <= 300, s"PQ returned a neighbor outside the exact top-300")
    // determinism: same corpus, same codes
    val codes1 = Similarity.ivfPqTopK(e, queries, "vec_id", "embedding", 5)
      .as[(Long, Long, Int)].collect().toSet
    val codes2 = Similarity.ivfPqTopK(e, queries, "vec_id", "embedding", 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(codes1 == codes2, "IVF-PQ is not deterministic across runs")
  }

  test("IVF-PQ refined: exact re-rank lifts recall over raw ADC, tightens the exact head") {
    import graft.queries.OpsQueries.{AnnOracleKPrime, PqOracleKPrime, RefinedOracleKPrime}
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = e.filter(pmod($"vec_id", lit(50)) === 0)
    // deep enough that every k' bound below is checked against a real rank
    val depth = Seq(AnnOracleKPrime, PqOracleKPrime, RefinedOracleKPrime).max
    val exactRank = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", depth)
      .select($"query_id", $"neighbor_id", $"rnk")
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, r) => (a, b) -> r }.toMap
    val exactTop5 = exactRank.collect { case (p, r) if r <= 5 => p }.toSet
    // one training, shared by both variants — the production lifecycle
    // (and what makes "refined ≥ raw" a same-codebook comparison)
    val idx = Similarity.trainIvfPqIndex(e, "vec_id", "embedding")
    val raw = Similarity.ivfPqTopK(e, queries, "vec_id", "embedding", 5, index = Some(idx))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.ivfPqTopKRefined(e, queries, "vec_id", "embedding", 5,
        index = Some(idx))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val rawRecall = exactTop5.count(raw.contains).toDouble / exactTop5.size
    val refRecall = exactTop5.count(refined.contains).toDouble / exactTop5.size
    info(f"IVF-PQ recall@5: raw $rawRecall%.2f, refined $refRecall%.2f")
    assert(refRecall >= rawRecall,
      s"exact re-rank must not lose recall (raw $rawRecall, refined $refRecall)")
    assert(refRecall >= 0.5, s"refined recall $refRecall too low — the re-rank is broken")
    // the containment contracts the precision oracles rely on: every
    // returned neighbor ranks inside the oracle's exact top-k'. The
    // refined re-rank bounds the exact rank by candidate selection, not
    // PQ distortion, so it shares the LSH/IVF head; raw ADC needs the
    // wider PQ head
    def worstRank(pairs: Set[(Long, Long)]): Int =
      pairs.toSeq.map(p => exactRank.getOrElse(p, Int.MaxValue)).max
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val worst = Seq(
      ("lsh", worstRank(pairs(Similarity.lshTopK(e, queries, "vec_id", "embedding", 5))),
        AnnOracleKPrime),
      ("ivf", worstRank(pairs(Similarity.ivfTopK(e, queries, "vec_id", "embedding", 5))),
        AnnOracleKPrime),
      ("ivfpq", worstRank(raw), PqOracleKPrime),
      ("ivfpq_refined", worstRank(refined), RefinedOracleKPrime))
    for ((name, rank, bound) <- worst) {
      info(s"$name worst exact rank among returned: $rank (k' = $bound)")
      assert(rank <= bound, s"$name returned a neighbor outside the exact top-$bound")
    }
  }

  test("IVF-PQ persisted codes artifact: search over reread parquet codes equals inline encode") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(pmod($"vec_id", lit(20)) === 0)
    val idx = Similarity.trainIvfPqIndex(e, "vec_id", "embedding")
    val dirPath = tempDir("graft-pqcodes-spec").toString
    Similarity.encodePqCorpus(e, "vec_id", "embedding", idx)
      .write.mode("overwrite").parquet(dirPath)
    val inline = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5, index = Some(idx))
      .collect().map(_.toSeq).toSet
    val persisted = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5, index = Some(idx),
        encoded = Some(spark.read.parquet(dirPath)))
      .collect().map(_.toSeq).toSet
    assert(inline == persisted, "persisted-codes search diverges from inline encode")
    val refInline = Similarity.ivfPqTopKRefined(e, q, "vec_id", "embedding", 5, index = Some(idx))
      .collect().map(_.toSeq).toSet
    val refPersisted = Similarity.ivfPqTopKRefined(e, q, "vec_id", "embedding", 5,
        index = Some(idx), encoded = Some(spark.read.parquet(dirPath)))
      .collect().map(_.toSeq).toSet
    assert(refInline == refPersisted, "refined persisted-codes search diverges")
  }

  test("embedding near-dup: LSH-blocked pairs are a precision-1 subset of exact") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val exact = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.3)
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupPairsLsh(e, "vec_id", "embedding", 0.3)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "threshold too high — test data has no pairs, nothing verified")
    assert(lsh.subsetOf(exact), s"LSH emitted false positives: ${lsh.diff(exact)}")
  }

  test("embedding near-dup: exact verifier refuses inputs beyond maxRows") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.3, maxRows = 100L)
    }
    assert(ex.getMessage.contains("maxRows"))
    assert(ex.getMessage.contains("cosineNearDupPairsLsh"), "error must name the scale path")
  }

  test("embedding near-dup: LSH recall on planted near-duplicates at threshold 0.9") {
    // the sf testdata has no real near-dups (max pairwise cosine ~0.5),
    // so plant them: 40 base vectors + a lightly-perturbed copy of each
    // (cosine ≈ 0.99) — the regime near-dup dedup actually targets.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).flatMap { i =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat)
      val dup = base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, base), (i.toLong + 1000L, dup))
    }
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.9)
      .as[(Long, Long)].collect().toSet
    assert(exact.size >= 35, s"planting failed: only ${exact.size} exact pairs")
    val lsh = Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", 0.9)
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH near-dup recall $recall too low at the 0.9-cosine regime")
  }

  test("IVF ANN: deterministic, and recall vs brute force holds") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = e.filter(pmod($"vec_id", lit(50)) === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def run() = Similarity.ivfTopK(e, queries, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = run()
    assert(ivf == run(), "ivfTopK is not deterministic across runs")
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low — cell assignment or probing is broken")
    // a PREBUILT coarse fit (the pay-once artifact placement, r19
    // verdict #3) returns the identical result: training is
    // deterministic, so only the cost placement moves
    val prebuilt = Similarity.trainIvfCentroids(e, "vec_id", "embedding", nCentroids = 8)
    val viaArtifact = Similarity.ivfTopK(e, queries, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 4, centroids0 = Some(prebuilt))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaArtifact == ivf, "prebuilt-centroid IVF diverged from the in-query fit")
  }

  test("spherical k-means: centroids are unit-norm and stable on a fixed sample") {
    val sample = Array.tabulate(20)(i => Array.tabulate(4)(d => ((i * 7 + d * 3) % 10 + 1).toDouble))
    val c1 = Similarity.trainCentroids(sample, 3, 3)
    val c2 = Similarity.trainCentroids(sample, 3, 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    for (c <- c1) assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
  }

  test("multimodal: resize is deterministic with the declared payload size") {
    val media = Multimodal.packText(
      Tables.documents(spark, sfDir).limit(20), col("doc_id"), col("text"), "text/plain")
    val resized = Multimodal.resize(media, 32, 16)
    val rows = resized.select($"media_id", octet_length($"media"), $"width", $"height")
      .as[(Long, Int, Int, Int)].collect()
    assert(rows.length == 20)
    assert(rows.forall { case (_, n, w, h) => n == 32 * 16 / 64 && w == 32 && h == 16 })
    val again = Multimodal.resize(media, 32, 16)
      .select($"media_id", md5($"media")).as[(Long, String)].collect().toSet
    val first = resized.select($"media_id", md5($"media")).as[(Long, String)].collect().toSet
    assert(first == again)
  }

  test("multimodal: frame sampling explodes payloads into every-Nth fixed windows") {
    val media = Multimodal.packText(
      Tables.documents(spark, sfDir).limit(20), col("doc_id"), col("text"), "text/plain")
    val frames = Multimodal.frameSample(media, everyNth = 2, frameBytes = 64)
    val byDoc = frames.groupBy($"media_id")
      .agg(count(lit(1)).as("n"), max($"frame_idx").as("max_idx"))
      .join(media.select($"media_id", octet_length($"media").as("len")), Seq("media_id"))
      .as[(Long, Long, Int, Int)].collect()
    assert(byDoc.length == 20)
    byDoc.foreach { case (id, n, maxIdx, len) =>
      val nFrames = math.max(1, len / 64)
      val expected = (0 until nFrames by 2).size
      assert(n == expected, s"doc $id: $n frames, expected $expected for $len bytes")
      assert(maxIdx % 2 == 0, s"doc $id emitted an off-stride frame")
    }
  }

  test("multimodal: a custom MediaCodec drops in through the factory seam") {
    // the verdict on the env-blocked decode: the operators must accept
    // a real codec without being touched — prove the seam with a
    // deterministic custom implementation for all three shapes
    val media = Multimodal.packText(
      Seq((1L, "hello codec world payload")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), "image/png")
    val mk = () => OpsSpec.FixedCodec
    val feat = Multimodal.decodeFeatures(media, codec = mk).head()
    assert(feat.getAs[Int]("width") == 7 && feat.getAs[Int]("height") == 9)
    assert(feat.getSeq[Double](feat.fieldIndex("feature")).toSeq == Seq(1.0, 2.0, 3.0))
    // metadata stays plumbing-side (checksum of the ORIGINAL bytes)
    assert(feat.getAs[String]("media_type") == "image/png")
    val rs = Multimodal.resize(media, 2, 3, codec = mk).head()
    assert(rs.getAs[Array[Byte]]("media").toSeq == Array.fill(6)(0x2a.toByte).toSeq)
    val fr = Multimodal.frameSample(media, everyNth = 1, codec = Some(mk))
      .select($"frame_idx").as[Int].collect().toSeq
    assert(fr == Seq(0), "custom demuxer should emit one whole-payload frame")
  }

  test("multimodal: batched stub decode preserves ids, deterministic features") {
    val media = Multimodal.packText(docs, $"doc_id", $"text", "text/plain")
    val feats = Multimodal.decodeFeatures(media, batchSize = 7)
    assert(feats.count() == docs.count())
    val row = feats.filter($"media_id" === 0L).head()
    assert(row.getAs[String]("media_type") == "text/plain")
    assert(row.getAs[Long]("n_bytes") > 0)
    assert(row.getAs[Int]("width") >= 1 && row.getAs[Int]("width") <= 64)
    assert(row.getSeq[Double](row.fieldIndex("feature")).length == 8)
    // deterministic across runs
    val again = Multimodal.decodeFeatures(media, batchSize = 7).filter($"media_id" === 0L).head()
    assert(again.getAs[String]("checksum") == row.getAs[String]("checksum"))
    assert(again.getSeq[Double](again.fieldIndex("feature")).toSeq ==
      row.getSeq[Double](row.fieldIndex("feature")).toSeq)
  }

  test("incremental near-dup: recall floor vs the exact batch-touching pairs on real documents") {
    val isBatch = (id: Long) => id % 10 == 0
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", $"text", 3, 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter(p => isBatch(p._1) || isBatch(p._2)).toSet
    assert(exact.nonEmpty, "testdata should contain batch-touching near-dup pairs")
    val inc = Dedup.incrementalNearDupPairs(
        docs.filter(pmod($"doc_id", lit(10)) =!= 0), docs.filter(pmod($"doc_id", lit(10)) === 0),
        "doc_id", $"text", 3, 64, 16, 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(inc.subsetOf(exact.union(exact.map(_.swap))), s"false positives: ${inc.diff(exact)}")
    val recall = exact.count(inc.contains).toDouble / exact.size
    assert(recall >= 0.9, s"incremental recall $recall too low (found ${inc.size}, exact ${exact.size})")
  }

  test("incremental near-dup: prebuilt corpus index yields identical pairs") {
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val live = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val index = Dedup.buildLshIndex(corpus, "doc_id", $"text")
    val viaIndex = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        corpusIndex = Some(index))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(live == viaIndex, s"index path diverged: ${live.diff(viaIndex)} / ${viaIndex.diff(live)}")
    assert(live.nonEmpty)
  }

  test("near-dup clusters: min-label components, drop list keeps one per cluster") {
    // chain 1-2-3 bridged to 8-9 via 1-9; separate pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (1L, 9L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    val dropped = Dedup.clusterDropList(Dedup.nearDupClusters(pairs))
      .as[Long].collect().toSet
    assert(dropped == Set(2L, 3L, 8L, 9L, 6L))
    // empty pair set → empty clustering, no infinite loop
    assert(Dedup.nearDupClusters(pairs.limit(0)).isEmpty)
    // a chain longer than the round budget traps instead of mislabeling
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      Dedup.nearDupClusters(chain, maxRounds = 2).collect()
    }
  }

  test("semantic dedup (SemDeDup): precision-1 subset of exact pairs, usable recall") {
    val sample = emb.filter(pmod($"vec_id", lit(10)) === 0)
    val exact = graft.ops.Similarity.cosineNearDupPairs(sample, "vec_id", "embedding", 0.3)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "sample should contain cosine>=0.3 pairs")
    val sem = graft.ops.Similarity.semanticDedupPairs(
        sample, "vec_id", "embedding", 0.3, sampleMod = 1)
      .as[(Long, Long)].collect().toSet
    assert(sem.subsetOf(exact), s"false positives: ${sem.diff(exact)}")
    val recall = exact.count(sem.contains).toDouble / exact.size
    // cells only lose cross-cell pairs; near-dups co-locate, but this
    // corpus has no planted twins (max cosine ~0.5) so the floor is modest
    assert(recall >= 0.3, s"semdedup recall $recall (found ${sem.size}, exact ${exact.size})")
  }

  test("semantic dedup: cell-size sharding is recall-lossless (same pair set as unsharded)") {
    val sample = emb.filter(pmod($"vec_id", lit(10)) === 0)
    // maxCellSize=4 forces every 16-way cell over ~50 docs into multiple
    // shards; the block-join grid must still emit every within-cell pair
    // exactly once
    val unsharded = graft.ops.Similarity.semanticDedupPairs(
        sample, "vec_id", "embedding", 0.3, sampleMod = 1, maxCellSize = Int.MaxValue)
      .as[(Long, Long)].collect()
    val sharded = graft.ops.Similarity.semanticDedupPairs(
        sample, "vec_id", "embedding", 0.3, sampleMod = 1, maxCellSize = 4)
      .as[(Long, Long)].collect()
    assert(unsharded.length == unsharded.toSet.size, "unsharded emits duplicates")
    assert(sharded.length == sharded.toSet.size, "sharded emits duplicate pairs")
    assert(sharded.toSet == unsharded.toSet,
      s"sharding changed the pair set: missing=${unsharded.toSet.diff(sharded.toSet)} " +
        s"extra=${sharded.toSet.diff(unsharded.toSet)}")
  }

  test("stripHtml: blocks, comments, multiline tags and entities extract to clean prose") {
    val html = "<html><head><title>T &amp; U</title><style>p{x:1}</style>" +
      "<script>if(1 &lt; 2){}</script></head><body><!-- note -->" +
      "<p>alpha &amp; beta &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>" +
      "<a href=\"#1\">one</a> <a\nhref=\"#2\">two</a></body></html>"
    val r = Seq((1L, html)).toDF("doc_id", "text").select(
      graft.ops.TextAnalysis.htmlTitle($"text").as("t"),
      graft.ops.TextAnalysis.htmlLinkCount($"text").as("n"),
      graft.ops.TextAnalysis.stripHtml($"text").as("c")).head
    assert(r.getString(0) == "T &amp; U", s"title: ${r.getString(0)}")
    assert(r.getLong(1) == 2L, s"links: ${r.getLong(1)}")
    // script/style/comment gone wholesale (incl. the &lt; inside the
    // script), tags cut across the line break, entities decoded with
    // &amp; last, whitespace collapsed
    assert(r.getString(2) == "T & U alpha & beta <tag> \"q\" 's' end one two",
      s"clean: '${r.getString(2)}'")
  }

  test("diversify (D4): landmark pruning drops the ceil(frac*n) most prototypical per cell") {
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.8f, 0.2f, 0.0f)),
      (3L, Seq(0.7f, 0.3f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f)),
      (6L, Seq(0.0f, 0.1f, 0.9f)),
      (7L, Seq(0.0f, 0.2f, 0.8f)),
      (8L, Seq(0.0f, 0.3f, 0.7f))).toDF("vec_id", "embedding")
    val d = graft.ops.Similarity
      .diversifyLandmarks(rows, "vec_id", "embedding", 0.5, 2, 5)
      .as[(Long, Int, String)].collect()
    val byDoc = d.map { case (doc, cell, act) => doc -> (cell, act) }.toMap
    assert(byDoc.keySet == Set(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L))
    // landmarks: ids 0 (cell 0) and 5 (cell 1); x-axis docs go to 0
    assert(Seq(0L, 1L, 2L, 3L).forall(byDoc(_)._1 == 0), s"$byDoc")
    assert(Seq(5L, 6L, 7L, 8L).forall(byDoc(_)._1 == 1), s"$byDoc")
    // dropFrac 0.5 over 4-doc cells: the landmark itself (sim 1.0) and
    // its nearest neighbor are the prototypes that go; the periphery stays
    assert(d.filter(_._3 == "dropped").map(_._1).toSet == Set(0L, 1L, 5L, 6L), s"$byDoc")
    // broadcast-table assignment path prunes identically
    val bcast = graft.ops.Similarity
      .diversifyLandmarks(rows, "vec_id", "embedding", 0.5, 2, 5, forceBroadcast = true)
      .as[(Long, Int, String)].collect()
    assert(bcast.sortBy(_._1).toSeq == d.sortBy(_._1).toSeq)
  }

  test("diversify (D4): trained k-means pruning meets per-cell drop quotas and partitions the corpus") {
    val sample = emb.filter(pmod($"vec_id", lit(5)) === 0)
    val n = sample.count()
    val d = graft.ops.Similarity
      .diversify(sample, "vec_id", "embedding", 0.25, nCentroids = 8, sampleMod = 1)
      .as[(Long, Int, String)].collect()
    assert(d.length == n, "diversify must emit one verdict per input row")
    assert(d.map(_._1).distinct.length == d.length, "duplicate verdicts")
    val perCell = d.groupBy(_._2)
    perCell.foreach { case (cell, members) =>
      val dropped = members.count(_._3 == "dropped")
      val quota = math.ceil(0.25 * members.length).toLong
      assert(dropped == quota, s"cell $cell: dropped $dropped of ${members.length}, want $quota")
    }
    assert(perCell.size > 1, "degenerate clustering: everything in one cell")
  }

  test("cluster-balanced sampling: min cells fully kept, no cell exceeds its size, verdicts deterministic") {
    val kept = graft.ops.Similarity
      .clusterBalancedSampleLandmarks(emb, "vec_id", "embedding", 16, 25)
      .as[(Long, Int)].collect()
    // ground-truth assignment: diversify at dropFrac 0 keeps every row
    val cells = graft.ops.Similarity
      .diversifyLandmarks(emb, "vec_id", "embedding", 0.0, 16, 25)
      .select($"doc", $"cell").as[(Long, Int)].collect()
    val total = cells.groupBy(_._2).view.mapValues(_.length).toMap
    val keptBy = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val cmin = total.values.min
    // every smallest cell has rate 1.0 → fully kept
    total.filter(_._2 == cmin).keys.foreach { cell =>
      assert(keptBy.getOrElse(cell, 0) == cmin, s"min cell $cell not fully kept")
    }
    total.foreach { case (cell, n) =>
      assert(keptBy.getOrElse(cell, 0) <= n, s"cell $cell kept more than it holds")
    }
    // kept rows carry their true assignment, and balancing bites
    val cellOf = cells.toMap
    assert(kept.forall { case (d, c) => cellOf(d) == c })
    assert(kept.length < cells.length, "nothing was downsampled")
    // determinism: same ids, same fate
    val again = graft.ops.Similarity
      .clusterBalancedSampleLandmarks(emb, "vec_id", "embedding", 16, 25)
      .as[(Long, Int)].collect()
    assert(again.sortBy(_._1).toSeq == kept.sortBy(_._1).toSeq)
  }

  test("diversify: no vector ever crosses a shuffle — every exchange is the skinny projection") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so EnsureRequirements' exchanges are visible as nodes
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (force <- Seq(false, true)) {
        val plan = graft.ops.Similarity
          .diversifyLandmarks(emb, "vec_id", "embedding", 0.25, 16, 25,
            forceBroadcast = force)
          .queryExecution.executedPlan
        val wide = plan.collect {
          case e: ShuffleExchangeExec
            if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
        }
        assert(wide.isEmpty,
          s"force=$force: vector-bearing exchange(s): ${wide.map(_.output.map(_.name))}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("assignCells: broadcast centroid-table path assigns identically to the narrow literal path") {
    val sample = emb.filter(pmod($"vec_id", lit(5)) === 0)
    val vecs = sample.select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val centroids = graft.ops.Similarity.trainCentroids(vecs, 24, 2)
    def assigned(force: Boolean) = graft.ops.Similarity
      .assignCells(sample, "vec_id", "embedding", centroids, forceBroadcast = force)
      .select($"doc", $"cell").as[(Long, Int)].collect().toMap
    val narrow = assigned(force = false)
    val bcast = assigned(force = true)
    assert(narrow.size == bcast.size)
    val diffs = narrow.collect { case (d, c) if bcast(d) != c => (d, c, bcast(d)) }
    assert(diffs.isEmpty, s"paths disagree on ${diffs.take(5)}")
    // the assignments should be non-degenerate: more than one cell in use
    assert(narrow.values.toSet.size > 1)
  }

  test("near-dup clusters: a 50-doc pairwise chain converges in O(log d) rounds") {
    // the winnowDupPairs shape — copied-passage chains A~B~C without
    // A~C. Plain min-label flooding needs diameter (49) rounds and
    // would trip the default budget; pointer doubling brings it to
    // ~log2(49)+2, well inside maxRounds = 20
    val longChain = (1L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(longChain).as[(Long, Long)].collect()
    assert(clusters.length == 50)
    assert(clusters.forall(_._2 == 1L), s"chain must collapse to one component: ${clusters.filterNot(_._2 == 1L).take(5).toSeq}")
    // two disjoint chains stay separate components
    val two = ((1L until 25L).map(i => (i, i + 1)) ++ (100L until 120L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val m = Dedup.nearDupClusters(two).as[(Long, Long)].collect().toMap
    assert((1L to 25L).forall(m(_) == 1L) && (100L to 120L).forall(m(_) == 100L))
  }

  test("vocab: top tokens and BPE merge pairs count and rank correctly") {
    val df = Seq(
      (1L, "the cat the cat the dog"),
      (2L, "THE cat runs"),
      (3L, "x")).toDF("doc_id", "text")
    val top = graft.ops.Vocab.topTokens(df, $"text", 3)
      .as[(String, Long)].collect().toSeq
    // the:4, cat:3, then ties at 1 broken alphabetically → dog
    assert(top == Seq(("the", 4L), ("cat", 3L), ("dog", 1L)), s"got $top")
    val pairs = graft.ops.Vocab.topBpePairs(df, $"text", 2)
      .as[(String, Long)].collect().toSeq
    // adjacent pre-token pairs: "the cat" ×3 ("cat the" ×2)
    assert(pairs == Seq(("the cat", 3L), ("cat the", 2L)), s"got $pairs")
    // single-pre-token docs produce no pairs, no failure
    assert(graft.ops.Vocab.topBpePairs(Seq((9L, "x")).toDF("doc_id", "text"), $"text", 5)
      .isEmpty)
  }

  test("unigram log-prob: rare-token docs score lower; ppl is its inverse signal") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // corpus counts a:2 b:2 c:1, N=5 V=3 → p(a)=p(b)=3/8, p(c)=2/8;
    // doc1 = ln(3/8); doc2 = (ln(3/8)+ln(2/8))/2 < doc1
    val lp = graft.ops.Vocab.unigramLogProb(df, "doc_id", $"text")
      .select($"doc_id", $"avg_logprob", $"ppl")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // per-token log-probs are quantized at scale 3 for cross-engine
    // determinism, so the avg carries ±5e-4 quantization error
    assert(math.abs(lp(1L)._1 - math.log(3.0 / 8)) < 1e-3, s"got ${lp(1L)}")
    assert(lp(2L)._1 < lp(1L)._1, "doc with the rarer token must score lower")
    assert(lp(2L)._2 > lp(1L)._2, "perplexity orders inversely to log-prob")
  }

  test("bigram log-prob: add-one conditional probs; short docs have no bigrams") {
    val df = Seq((1L, "a b a b"), (2L, "a"), (3L, "b z")).toDF("doc_id", "text")
    // bigram counts: "a b":2, "b a":1, "b z":1; ctx: a·:2, b·:2; V=3
    // doc1 bigrams: ab, ba, ab → lps ln(3/5), ln(2/5), ln(3/5)
    // doc3 bigram: bz → ln(2/5)
    val lp = graft.ops.Vocab.bigramLogProb(df, "doc_id", $"text")
      .select($"doc_id", $"avg_logprob", $"ppl")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!lp.contains(2L), "a one-token doc has no bigrams and must drop out")
    val exp1 = (2 * math.log(3.0 / 5) + math.log(2.0 / 5)) / 3
    assert(math.abs(lp(1L)._1 - exp1) < 1e-3, s"got ${lp(1L)}")
    assert(math.abs(lp(3L)._1 - math.log(2.0 / 5)) < 1e-3, s"got ${lp(3L)}")
    assert(lp(3L)._1 < lp(1L)._1 && lp(3L)._2 > lp(1L)._2,
      "the rarer-bigram doc must score lower / perplex higher")
  }

  test("corpusDiff classifies added/removed/changed/unchanged; whitespace-insensitive") {
    val prev = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "kept doc")).toDF("doc_id", "text")
    val next = Seq((2L, "gamma CHANGED"), (3L, "kept   DOC"), (4L, "brand new")).toDF("doc_id", "text")
    val d = graft.ops.Dedup.corpusDiff(prev, next, "doc_id", $"text")
      .as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "removed", 2L -> "changed", 3L -> "unchanged", 4L -> "added"),
      s"got $d") // 3 is unchanged: fingerprint normalizes case + runs of whitespace
  }

  test("Kneser-Ney bigram: per-context kernel sums to 1; hand-check on a tiny corpus") {
    val df = Seq((1L, "a b a b"), (2L, "a"), (3L, "b z")).toDF("doc_id", "text")
    // bigram types: (a,b):2 (b,a):1 (b,z):1 → ctx a: cc=2 n1f=1; b: cc=2 n1f=2
    // cont: b:1, a:1, z:1; ntypes=3; D=0.75
    val D = 0.75
    def p(c: Long, cc: Long, n1f: Long, n1b: Long): Double =
      (math.max(c - D, 0.0) + D * n1f * n1b / 3.0) / cc
    val lp = graft.ops.Vocab.knBigramLogProb(df, "doc_id", $"text")
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect().toMap
    assert(!lp.contains(2L), "a one-token doc has no bigrams and must drop out")
    val exp1 = (2 * math.log(p(2, 2, 1, 1)) + math.log(p(1, 2, 2, 1))) / 3
    assert(math.abs(lp(1L) - exp1) < 1e-3, s"got ${lp(1L)} want $exp1")
    assert(math.abs(lp(3L) - math.log(p(1, 2, 2, 1))) < 1e-3, s"got ${lp(3L)}")
    // THE KN property: for each context w1, summing P(w2|w1) over every
    // w2 that occurs as a continuation anywhere equals exactly 1 — the
    // discount mass redistributes via Pcont, nothing leaks
    val sumA = p(2, 2, 1, 1) + p(0, 2, 1, 1) + p(0, 2, 1, 1) // a→{b, a, z}
    val sumB = p(1, 2, 2, 1) + p(1, 2, 2, 1) + p(0, 2, 2, 1) // b→{a, z, b}
    assert(math.abs(sumA - 1.0) < 1e-12 && math.abs(sumB - 1.0) < 1e-12,
      s"kernel must be a proper distribution: a→$sumA b→$sumB")
    // and the engine's corpus-scale scoring agrees with the add-one
    // ranking direction on the planted fluent-vs-noise split
    val docs = Tables.documents(spark, sfDir).limit(50)
    val kn = graft.ops.Vocab.knBigramLogProb(docs, "doc_id", $"text")
    assert(kn.count() > 0)
  }

  test("BPE encode: trained merges apply greedily; decode reproduces the pre-token stream") {
    val df = Seq((1L, "the cat the cat the"), (2L, "the dog"), (3L, "")).toDF("doc_id", "text")
    val trained = graft.ops.Vocab.bpeMergeRounds(df, $"text", 2)
      .orderBy($"merge_rank").select($"pair").as[String].collect().toSeq
    assert(trained.nonEmpty)
    val out = graft.ops.Vocab.bpeEncode(df, "doc_id", $"text", trained).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("encoded"), r.getAs[Long]("n_bpe_tokens")))).toMap
    // decode invariant: replacing the merge joiner by a space in the
    // encoded stream reproduces the original pre-token stream exactly —
    // encoding is lossless
    val pre = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]".r
    for ((id, text) <- Seq((1L, "the cat the cat the"), (2L, "the dog"), (3L, ""))) {
      val orig = pre.findAllIn(text.toLowerCase).mkString(" ")
      assert(out(id)._1.replace("\u0001", " ") == orig, s"doc $id decode mismatch")
    }
    // "the cat" merges (top pair) → doc 1 shrinks below its pre-token count
    assert(out(1L)._2 < 5L, s"merges did not apply: ${out(1L)}")
    assert(out(1L)._1.contains("\u0001"), "no merged token in the encoded stream")
  }

  test("TF-IDF top terms: distinctive tokens win, shared tokens score zero idf") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = graft.ops.Vocab.tfIdfTopTerms(df, "doc_id", $"text", 1)
      .select($"doc_id", $"token").as[(Long, String)].collect().toMap
    // idf: a=ln2 (1 of 2 docs), b=0 (both), c=ln2 → doc1's top is a, doc2's is c
    assert(got == Map(1L -> "a", 2L -> "c"), s"got $got")
    val all = graft.ops.Vocab.tfIdfTopTerms(df, "doc_id", $"text", 5)
      .as[(Long, String, Double)].collect()
    assert(all.filter(_._2 == "b").forall(_._3 == 0.0), "corpus-wide token must have zero idf")
  }

  test("BPE merge rounds: greedy leftmost rewrite, merged symbols feed later rounds, early stop") {
    val J = graft.ops.Vocab.MergeJoiner
    val df = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val got = graft.ops.Vocab.bpeMergeRounds(df, $"text", 4)
      .as[(Int, String, Long)].collect().toSeq
    // round 1 merges "a b" (3 occurrences, beats "b a"'s 2); round 2
    // merges the MERGED symbol pair (leftmost non-overlapping, so
    // "ab ab ab" → "abab ab"); round 3 the remaining pair; round 4 has
    // a single token left → the loop stops early with 3 merges
    assert(got == Seq(
      (1, "a b", 3L),
      (2, s"a${J}b a${J}b", 2L),
      (3, s"a${J}b${J}a${J}b a${J}b", 1L)), s"got $got")
  }

  test("gopher rules: each rule trips on its own pathology, clean prose passes") {
    // interleave unique tokens with required stopwords: long, alphabetic,
    // stopword-bearing AND repetition-free (every 2-gram touches a
    // unique token), so it passes every rule including the r8 additions
    val longProse = (1 to 40).flatMap(i => Seq(s"alpha$i", "the", s"beta$i", "and")).mkString(" ")
    val cases = Seq(
      (1L, longProse, "passes", true),
      (2L, "too short", "ok_word_count", false),
      (3L, Array.fill(80)("a").mkString(" "), "ok_mean_word_len", false), // mean len 1
      (4L, Array.fill(80)("12345").mkString(" "), "ok_alpha_ratio", false),
      (5L, Array.fill(80)("woo ###").mkString(" "), "ok_symbol_ratio", false),
      (6L, Array.fill(80)("- bullet line\n").mkString, "ok_bullet_ratio", false),
      // §A1.1 additions: truncation boilerplate, stopword-free word
      // salad, and repeated-phrase spam each trip their own gate
      (7L, Array.fill(80)("this line trails off...\n").mkString, "ok_ellipsis_ratio", false),
      (8L, Array.fill(80)("zebra quokka jumps").mkString(" "), "ok_required_stopwords", false),
      (9L, Array.fill(100)("the spam").mkString(" "), "ok_repetition", false))
      .toDF("doc_id", "text", "rule", "want")
    val ruleCols = TA.gopherRules($"text").map { case (n, c) => c.as(n) }
    val got = cases.select(
      Seq($"doc_id", $"rule", $"want", TA.gopherPass($"text").as("passes")) ++ ruleCols: _*)
    got.collect().foreach { r =>
      val rule = r.getAs[String]("rule")
      assert(r.getAs[Boolean](rule) == r.getAs[Boolean]("want"),
        s"doc ${r.getAs[Long]("doc_id")}: rule $rule")
      if (!r.getAs[Boolean]("want"))
        assert(!r.getAs[Boolean]("passes"), s"doc ${r.getAs[Long]("doc_id")}: overall pass despite $rule")
    }
  }

  test("c4 rules: line filter and page gate each trip on their own pathology") {
    val good = "one two three four five six."
    val df = Seq(
      // 3 good lines → passes
      (1L, Seq(good, good, good), true, 3),
      // unterminated line dropped → only 2 kept → page fails
      (2L, Seq(good, good, "one two three four five six"), false, 2),
      // short line dropped despite terminal punctuation
      (3L, Seq(good, good, "too short."), false, 2),
      // javascript line dropped even though well-formed
      (4L, Seq(good, good, "please enable javascript to continue here."), false, 2),
      // lorem ipsum: line survives the LINE filter, page gate kills
      (5L, Seq(good, good, "lorem ipsum dolor sit amet filler."), false, 3),
      // curly brace anywhere on the page kills it
      (6L, Seq(good, good, "call me later { maybe today }."), false, 3),
      // question/exclamation/quote all count as terminal
      (7L, Seq("is one two three four five?", "go one two three four five!",
        "he said one two three \"five\""), true, 3))
      .toDF("doc_id", "lines", "want_pass", "want_kept")
    val kept = TA.c4KeepLines($"lines")
    val got = df.select($"doc_id", $"want_pass", $"want_kept",
      size(kept).as("n_kept"), TA.c4PagePass($"lines", kept).as("passes"))
    got.collect().foreach { r =>
      assert(r.getAs[Int]("n_kept") == r.getAs[Int]("want_kept"),
        s"doc ${r.getAs[Long]("doc_id")}: kept")
      assert(r.getAs[Boolean]("passes") == r.getAs[Boolean]("want_pass"),
        s"doc ${r.getAs[Long]("doc_id")}: passes")
    }
  }

  test("perplexity buckets: per-lang terciles, lowest ppl lands in head") {
    val got = graft.ops.Vocab.perplexityBuckets(docs, "doc_id", $"text", $"lang")
    val byLang = got.groupBy($"lang").pivot($"bucket", Seq("head", "middle", "tail"))
      .count().collect()
    byLang.foreach { r =>
      val (h, m, t) = (r.getAs[Long]("head"), r.getAs[Long]("middle"), r.getAs[Long]("tail"))
      // ntile: sizes differ by at most 1, earlier tiles take the extra
      assert(h >= m && m >= t && h - t <= 1, s"lang ${r.getAs[String]("lang")}: $h/$m/$t")
    }
    // the minimum-perplexity doc of every language must be in head
    val minPpl = got.groupBy($"lang").agg(min(struct($"ppl", $"doc_id")).as("m"))
      .select($"lang", $"m.doc_id".as("doc_id"))
    val joined = got.join(minPpl, Seq("lang", "doc_id")).select($"bucket").as[String].collect()
    assert(joined.nonEmpty && joined.forall(_ == "head"))
  }

  test("unimax allocation: waterfill caps small strata, remainder to the head, budget conserved") {
    // 3 strata: 100 + 200 + 700 = 1000 tokens; budget 0.8*1000 = 800,
    // cap 2 epochs. Waterfill ascending: a(cap 200) vs share 800/3=266.7
    // → capped at 200; b(cap 400) vs (800-200)/2=300 → NOT capped →
    // share 300 fixed; c gets 300 too. Total = 200+300+300 = 800.
    val df = (Seq.fill(1)(("a", 100)) ++ Seq.fill(2)(("b", 100)) ++ Seq.fill(7)(("c", 100)))
      .zipWithIndex.map { case ((s1, n), i) => (i.toLong, s1, n) }
      .toDF("doc_id", "stratum", "n")
    val got = Sampling.uniMaxAllocation(df, $"stratum", $"n", budgetFrac = 0.8, maxEpochs = 2.0)
      .orderBy($"stratum")
      .as[(String, Long, Double, Boolean, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 100L, 200.0, true, 200.0, 2.0),
      ("b", 200L, 400.0, false, 300.0, 1.5),
      ("c", 700L, 1400.0, false, 300.0, 300.0 / 700.0)), s"got $got")
    // degenerate: budget above all caps → everything capped at maxEpochs
    val all = Sampling.uniMaxAllocation(df, $"stratum", $"n", budgetFrac = 5.0, maxEpochs = 1.0)
      .select($"capped", $"epochs").as[(Boolean, Double)].collect()
    assert(all.forall { case (c, e) => c && e == 1.0 })
  }

  test("PII scrub: each pattern tagged, counts match, clean text untouched") {
    val cases = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org now", "mail me at <EMAIL> now", 1),
      (2L, "call 555-123-4567 today", "call <PHONE> today", 1),
      (3L, "card 4111 1111 1111 1111 expires", "card <CC> expires", 1),
      (4L, "host 192.168.0.1 is up", "host <IP> is up", 1),
      (5L, "nothing sensitive here 12 34", "nothing sensitive here 12 34", 0),
      // card must win over phone on the same digits; email eats its card
      (6L, "4111-1111-1111-1111 and a@b.co", "<CC> and <EMAIL>", 2),
      // octet bounds: not every dotted quad is an IP
      (7L, "ping 999.999.999.999 ok", "ping 999.999.999.999 ok", 0),
      // version tags keep their word boundary ("v1" has none before the digit)
      (8L, "release v1.2.3.4 notes", "release v1.2.3.4 notes", 0),
      // paren and international phone forms
      (9L, "call (555) 123-4567 today", "call <PHONE> today", 1),
      (10L, "dial +1 555 123 4567 now", "dial <PHONE> now", 1),
      // IPv6: full 8-group and ::-compressed forms
      (11L, "addr 2001:db8:0:0:0:0:2:1 and fe80::1 up", "addr <IPV6> and <IPV6> up", 2),
      // hex-alphabet '::' code paths are NOT IPv6 (trailing group required)
      (12L, "a bad::cast and fd::read call", "a bad::cast and fd::read call", 0))
      .toDF("doc_id", "raw", "want_scrubbed", "want_hits")
    val got = cases.select($"doc_id", $"want_scrubbed", $"want_hits",
        TA.scrubPii($"raw").as("scrubbed"), TA.piiHits($"raw").as("hits"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("scrubbed") == r.getAs[String]("want_scrubbed"),
        s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Int]("hits") == r.getAs[Int]("want_hits"),
        s"doc ${r.getAs[Long]("doc_id")} hit count")
    }
  }

  test("incremental exact dedup: corpus dups dropped, in-batch dups collapse, fresh survive") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA   beta gamma"), // fingerprint-dup of corpus doc 1 → dropped
      (20L, "fresh new content"),  // survives
      (30L, "Fresh   NEW content"), // in-batch fp-dup of 20 → min id 20 wins
      (40L, "another one")).toDF("doc_id", "text")
    val out = Dedup.incrementalExactDedup(corpus, batch, "doc_id", $"text")
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(20L, 40L))
    // the persisted-artifact path: same verdict, and the corpus-sized
    // side must never shuffle — it streams map-side against a
    // broadcast of the batch's fingerprints
    val art = corpus.select(graft.ops.TextAnalysis.fingerprint($"text").as("fp"))
    val viaArt = Dedup.incrementalExactDedup(corpus, batch, "doc_id", $"text",
      corpusFps = Some(art))
    assert(viaArt.select($"doc_id").as[Long].collect().toSet == Set(20L, 40L))
    val plan = viaArt.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "artifact admission must not sort-merge (shuffle) the corpus fingerprint set")
  }

  test("incremental near-dup: finds planted batch↔corpus pair, never pairs corpus with itself") {
    // two corpus docs that are near-dups of EACH OTHER (must not appear),
    // one batch doc near-dupping a corpus doc (must appear)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base), (2L, base + " ok"), (3L, "entirely different words here")).toDF("doc_id", "text")
    val batch = Seq((10L, base + " now"), (20L, "unrelated fresh batch document")).toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)), s"got $pairs")
    assert(!pairs.contains((1L, 2L)), "corpus×corpus pair leaked into the incremental output")
    // every pair touches the batch, and is a true near-dup (subset of exact)
    val batchIds = Set(10L, 20L)
    assert(pairs.forall { case (a, b) => batchIds(a) || batchIds(b) })
    val exact = Dedup.ngramJaccardPairs(
        corpus.unionByName(batch), "doc_id", $"text", 3, 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(exact), s"incremental pairs $pairs not ⊆ exact $exact")
  }

  test("stratified sampling: deterministic, per-stratum rates honored, rate 0/1 exact") {
    val df = (0L until 4000L).map(i => (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "fr" else "de"))
      .toDF("id", "lang")
    val sampled = Sampling.stratifiedSample(df, $"id", $"lang",
      Map("en" -> 0.2, "fr" -> 0.0), defaultRate = 1.0)
    val byLang = sampled.groupBy("lang").count().as[(String, Long)].collect().toMap
    // rate 0 drops everything; rate 1 keeps everything; 0.2 lands near 200/1000
    assert(!byLang.contains("fr"))
    assert(byLang("de") == 2000L)
    assert(byLang("en") > 120L && byLang("en") < 280L, s"en kept ${byLang.get("en")}")
    // deterministic: same rows every time, and a sampled set is a subset
    // of the looser-rate set (hash thresholding is monotone in the rate)
    val again = Sampling.stratifiedSample(df, $"id", $"lang",
      Map("en" -> 0.2, "fr" -> 0.0), defaultRate = 1.0)
    assert(sampled.exceptAll(again).isEmpty && again.exceptAll(sampled).isEmpty)
    val looser = Sampling.stratifiedSample(df, $"id", $"lang",
      Map("en" -> 0.5, "fr" -> 0.0), defaultRate = 1.0)
    assert(sampled.exceptAll(looser).isEmpty, "0.2 sample must be ⊆ 0.5 sample")
    assertThrows[IllegalArgumentException] {
      Sampling.stratifiedSample(df, $"id", $"lang", Map("en" -> 1.5), 1.0)
    }
  }

  test("sequence packing: contiguous per-shard token streams, correct window spans") {
    val packed = Sampling.packSequences(docs, $"doc_id",
        graft.ops.TextAnalysis.tokenCount($"text"), shards = 4, budget = 128)
      .collect()
    assert(packed.length == docs.count())
    // within each shard the start offsets tile the token stream exactly:
    // sorted by start_off, each doc begins where the previous ended
    val tokens = docs.select($"doc_id",
        graft.ops.TextAnalysis.tokenCount($"text").cast("long")).as[(Long, Long)]
      .collect().toMap
    packed.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("start_off"))
      var expected = 0L
      ordered.foreach { r =>
        val start = r.getAs[Long]("start_off")
        assert(start == expected, s"shard $shard: gap/overlap at doc ${r.getAs[Long]("pack_id")}")
        val n = tokens(r.getAs[Long]("pack_id"))
        assert(r.getAs[Long]("bin_first") == start / 128)
        assert(r.getAs[Long]("bin_last") == math.max(start, start + n - 1) / 128)
        expected = start + n
      }
    }
    // deterministic across runs
    val again = Sampling.packSequences(docs, $"doc_id",
        graft.ops.TextAnalysis.tokenCount($"text"), shards = 4, budget = 128).collect()
    assert(packed.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("decontamination scrub: benchmark spans excised, clean docs untouched") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally clean text here"),
      (3L, "beta gamma delta")).toDF("doc_id", "text")
    val bench = Seq((100L, "xx beta gamma delta yy")).toDF("doc_id", "text")
    val out = Dedup.decontaminationScrub(corpus, "doc_id", $"text", bench, $"text", 3)
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[String]("scrubbed"), r.getAs[Long]("n_removed")))).toMap
    // doc1 shares the 3-gram "beta gamma delta" → its span (positions
    // 1..3) is cut; alpha + epsilon survive
    assert(out(1L) == (("alpha epsilon", 3L)), s"got ${out(1L)}")
    // doc2 shares nothing → untouched
    assert(out(2L) == (("totally clean text here", 0L)))
    // doc3 IS the shared gram → scrubbed to empty, doc preserved
    assert(out(3L) == (("", 3L)))
    assert(out.size == 3)
  }

  test("budget select: whole buckets best-first, per-mille boundary cut, monotone in budget") {
    // buckets: 900 (ids 1,2 — 20 toks), 500 (ids 3..22 — 200 toks),
    // 100 (id 23 — 10 toks)
    val mid = (3L to 22L).map(i => (i, 0.5, 10L))
    val df = (Seq((1L, 0.9, 10L), (2L, 0.9, 10L)) ++ mid :+ ((23L, 0.1, 10L)))
      .toDF("id", "q", "n")
    val all = (1L to 23L).toSet
    def sel(budget: Long): Set[Long] =
      Sampling.budgetSelect(df, $"id", $"q", $"n", budget)
        .select($"doc_id").as[Long].collect().toSet
    // budget ≥ total → take all
    assert(sel(500L) == all)
    // budget 120: bucket 900 whole (20), bucket 500 at rate
    // floor(100·1000/200) = 500‰, bucket 100 dropped. The per-mille cut
    // is hash-thinning: ~half of the 20 mid docs survive (the chance of
    // all-or-none at 500‰ over 20 docs is 2·2⁻²⁰ — not flake mass).
    val s120 = sel(120L)
    assert(Set(1L, 2L).subsetOf(s120), "whole best bucket must be fully taken")
    assert(!s120.contains(23L), "bucket below the boundary must drop")
    val midSel = s120.intersect(mid.map(_._1).toSet)
    assert(midSel.nonEmpty, "boundary bucket must be partially taken")
    assert(midSel.size < 20, "boundary bucket must not be fully taken")
    // budget 20: exactly the top bucket
    assert(sel(20L) == Set(1L, 2L))
    // monotone: a larger budget's selection contains a smaller one's
    assert(sel(20L).subsetOf(s120) && s120.subsetOf(sel(200L)) && sel(200L).subsetOf(sel(500L)))
    // deterministic
    assert(sel(120L) == s120)
    assertThrows[IllegalArgumentException] {
      Sampling.budgetSelect(df, $"id", $"q", $"n", 0L)
    }
  }

  test("line dedup: corpus-frequent lines cut, order kept, all-boilerplate docs survive") {
    val df = Seq(
      (1L, "keep me\nboiler\nunique one"),
      (2L, "boiler\nanother keep"),
      (3L, "boiler"),
      (4L, "no boiler here\nboiler"),
      (5L, "dup\ndup")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(df, "doc_id", $"text", minDocFreq = 3)
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_lines_kept"), r.getAs[Long]("n_lines_dropped"))))
      .toMap
    // "boiler" is in 4 docs (df=4 ≥ 3) → cut everywhere, order preserved
    assert(out(1L) == (("keep me\nunique one", 2L, 1L)))
    assert(out(2L) == (("another keep", 1L, 1L)))
    // a doc that was ALL boilerplate survives, empty
    assert(out(3L) == (("", 0L, 1L)))
    assert(out(4L) == (("no boiler here", 1L, 1L)))
    // within-doc repetition counts its doc ONCE toward df — "dup" has
    // df=1, both copies stay
    assert(out(5L) == (("dup\ndup", 2L, 0L)))
    assert(out.size == 5)
    assertThrows[IllegalArgumentException] {
      Dedup.lineDedup(df, "doc_id", $"text", minDocFreq = 1)
    }
  }

  test("within-doc line dedup: repeats cut, first kept, order preserved") {
    val df = Seq(
      (1L, "a\nb\na\nc\nb"),
      (2L, "x\nx\nx"),
      (3L, "solo")).toDF("doc_id", "text")
    val out = Dedup.lineDedupWithinDoc(df, "doc_id", $"text")
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_lines_kept"), r.getAs[Long]("n_lines_dropped"))))
      .toMap
    assert(out(1L) == (("a\nb\nc", 3L, 2L)), s"got ${out(1L)}")
    assert(out(2L) == (("x", 1L, 2L)))
    assert(out(3L) == (("solo", 1L, 0L)))
    assert(out.size == 3)
  }

  test("context-window chunking: offsets tile by stride, partition at stride==window") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"tok$i").mkString(" ")),
      (2L, "single"),
      (3L, (1 to 7).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = Sampling.chunkTokens(df, $"doc_id", $"text", window = 4, stride = 3).collect()
    // doc 1 (10 tokens): starts 0,3,6,9 → sizes 4,4,4,1, 1-token overlap
    val d1 = chunks.filter(_.getAs[Long]("doc_id") == 1L).sortBy(_.getAs[Int]("chunk_idx"))
    assert(d1.map(_.getAs[Int]("chunk_idx")).toSeq == Seq(0, 1, 2, 3))
    assert(d1.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(d1(0).getAs[String]("chunk_text") == "tok1 tok2 tok3 tok4")
    assert(d1(1).getAs[String]("chunk_text") == "tok4 tok5 tok6 tok7")
    assert(d1(3).getAs[String]("chunk_text") == "tok10")
    // a doc shorter than the window still yields its (single) chunk
    val d2 = chunks.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d2.length == 1 && d2(0).getAs[String]("chunk_text") == "single")
    // stride == window partitions the stream: chunks rebuild the doc
    val rebuilt = Sampling.chunkTokens(df, $"doc_id", $"text", window = 3, stride = 3)
      .filter($"doc_id" === 3L).orderBy($"chunk_idx")
      .select($"chunk_text").as[String].collect().mkString(" ")
    assert(rebuilt == (1 to 7).map(i => s"w$i").mkString(" "))
    // stride > window would silently drop tokens — refused
    assertThrows[IllegalArgumentException] {
      Sampling.chunkTokens(df, $"doc_id", $"text", window = 3, stride = 4)
    }
  }

  test("corpus-shaping ops drop null-id/null-text rows instead of failing or mislabeling") {
    val df = Seq(
      (java.lang.Long.valueOf(1L), "real content here"),
      (null.asInstanceOf[java.lang.Long], "orphan row"),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // null id → null hash → three-valued comparison drops the row
    val sampled = Sampling.stratifiedSample(df, $"doc_id", lit("en"), Map("en" -> 1.0), 1.0)
    assert(sampled.select($"doc_id").as[java.lang.Long].collect().toSet == Set(1L, 3L))
    val mixed = Sampling.mixtureSample(df.filter($"text".isNotNull), $"doc_id", lit("en"),
      Map("en" -> 1.0))
    assert(mixed.select($"doc_id").as[java.lang.Long].collect().toSet == Set(1L))
    // null text → null grams/prints → no pairs, no NPE
    assert(Dedup.winnowDupPairs(df, "doc_id", $"text", 4, 4, 1).isEmpty)
    // gopher rules on null text stay null → a filter on `passes` drops them
    assert(df.filter(TA.gopherPass($"text")).count() == 0) // none reach 50 tokens
    assert(df.filter(TA.gopherPass($"text").isNull).count() == 1)
    // the r11 ops follow the same convention: null rows drop, no NPE,
    // no half-labeled output
    val chunkIds = Sampling.chunkTokens(df, $"doc_id", $"text", 4, 4)
      .select($"doc_id").as[java.lang.Long].collect().toSet
    assert(chunkIds == Set[java.lang.Long](1L, null), "null TEXT must not chunk")
    val ld = Dedup.lineDedup(df, "doc_id", $"text", 2)
      .select($"doc").as[java.lang.Long].collect().toSet
    assert(ld == Set[java.lang.Long](1L), "null id/text must not surface in line dedup")
    val bs = Sampling.budgetSelect(df, $"doc_id", lit(0.5),
        org.apache.spark.sql.functions.coalesce(TA.tokenCount($"text"), lit(0)), 1000L)
      .select($"doc_id").as[java.lang.Long].collect().toSet
    assert(!bs.contains(null), "null id must not be selected (null hash drops)")
    val bg = graft.ops.Vocab.bigramLogProb(df, "doc_id", $"text")
      .select($"doc_id").as[java.lang.Long].collect().toSet
    assert(!bg.contains(3L), "null text has no bigrams")
  }

  test("mixture sampling: output composition matches targets, arg-min stratum kept whole") {
    // 3000 en / 600 de / 400 fr; targets 50/30/20 → T bounded by
    // de (600/0.3 = 2000): expect ~1000 en, 600 de (all), ~400 fr (all)
    val df = (0L until 4000L).map { i =>
      (i, if (i < 3000) "en" else if (i < 3600) "de" else "fr")
    }.toDF("id", "lang")
    val out = Sampling.mixtureSample(df, $"id", $"lang",
      Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2))
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("de") == 600L, s"arg-min stratum must keep everything, got ${byLang.get("de")}")
    assert(byLang("fr") == 400L, s"rate-1.0 stratum truncated: ${byLang.get("fr")}")
    assert(byLang("en") > 900L && byLang("en") < 1100L, s"en kept ${byLang.get("en")} (want ~1000)")
    // composition ≈ targets
    val total = byLang.values.sum.toDouble
    assert(math.abs(byLang("en") / total - 0.5) < 0.05)
    // strata without a share are dropped; determinism across runs
    val extra = df.union(Seq((9999L, "xx")).toDF("id", "lang"))
    assert(Sampling.mixtureSample(extra, $"id", $"lang", Map("en" -> 1.0))
      .filter($"lang" =!= "en").isEmpty)
    val again = Sampling.mixtureSample(df, $"id", $"lang",
      Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2))
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // a target stratum with zero samplable rows makes the composition
    // unreachable — fail loudly instead of silently returning 100% en
    assertThrows[IllegalArgumentException] {
      Sampling.mixtureSample(df, $"id", $"lang", Map("en" -> 0.5, "xx" -> 0.5))
    }
  }

  test("incremental near-dup refuses a corpus index built under different banding") {
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val index = Dedup.buildLshIndex(corpus, "doc_id", $"text", numHashes = 128, bands = 32)
    assertThrows[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        corpusIndex = Some(index)) // defaults (64, 16) disagree
    }
  }

  test("persisted LSH index: parquet roundtrip keeps the stamp and the pairs; stripped stamp refused") {
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val dir = tempDir("graft-lsh-index-").toString
    Dedup.buildLshIndex(corpus, "doc_id", $"text").write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    // the parameter stamp must survive the write/read — this IS the
    // 100 TB contract: a later ingest validates the persisted artifact,
    // not the code that happened to produce it
    val m = reread.schema("band").metadata
    assert(m.contains("graft.bands") && m.getLong("graft.numHashes") == 64L
      && m.getLong("graft.n") == 3L && m.getLong("graft.bands") == 16L)
    val live = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val viaParquet = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        corpusIndex = Some(reread))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(live == viaParquet && live.nonEmpty,
      s"parquet index path diverged: ${live.diff(viaParquet)} / ${viaParquet.diff(live)}")
    // a mismatched reread is refused on the persisted metadata alone
    assertThrows[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        numHashes = 128, bands = 32, corpusIndex = Some(reread))
    }
    // a transformation that strips column metadata is refused loudly —
    // the silent failure mode it prevents (wrong bucket space, lost
    // recall) is undetectable downstream
    val stripped = reread.withColumn("band", $"band".cast("long").cast("int"))
    assertThrows[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        corpusIndex = Some(stripped))
    }
  }

  test("bucketed LSH index: identical pairs, zero Exchange on the index side of the candidate join") {
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    try {
    graft.ops.Bucketing.writeBucketed(
      Dedup.buildLshIndex(corpus, "doc_id", $"text"),
      "graft_lsh_idx_spec", Seq("band", "bucket"), 8)
    val bucketed = spark.table("graft_lsh_idx_spec")
    // the parameter stamp must survive the managed-table roundtrip too
    assert(bucketed.schema("band").metadata.contains("graft.bands"),
      "bucketBy/saveAsTable stripped the buildLshIndex parameter stamp")
    val live = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val viaBucketed = Dedup.incrementalNearDupPairs(corpus, batch, "doc_id", $"text",
        corpusIndex = Some(bucketed))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(live == viaBucketed && live.nonEmpty,
      s"bucketed index path diverged: ${live.diff(viaBucketed)} / ${viaBucketed.diff(live)}")
    // the 100 TB claim: the candidate join streams the persisted index
    // bucket-to-bucket — the corpus-sized side never re-shuffles; only
    // the batch side exchanges. AQE's leaf wrapper hides the tree and a
    // broadcast would dodge the question, so pin both off to inspect.
    val saved = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batchBuckets = Dedup.bandBuckets(
        Dedup.minhashSigs(batch, "doc_id", $"text", 3, 64), 64, 16)
      val cands = Dedup.incrementalCandidates(batchBuckets, bucketed)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      val plan = cands.queryExecution.executedPlan
      assert(plan.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty,
        s"index was not read as a bucketed scan:\n$plan")
      // writeBucketed aligns write tasks with bucket ids (one file per
      // bucket) — the layout precondition for a sorted read. Spark only
      // REPORTS the ordering under the legacy conf (planning-time file
      // listing is expensive), so assert the layout half under it.
      val savedOrd = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
      try {
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        val ordPlan = Dedup.incrementalCandidates(batchBuckets, spark.table("graft_lsh_idx_spec"))
          .queryExecution.executedPlan
        val scans = ordPlan.collect { case f: FileSourceScanExec if f.bucketedScan => f }
        assert(scans.nonEmpty && scans.forall(_.outputOrdering.nonEmpty),
          s"bucketed scan lost the sortBy ordering (multiple files per bucket?):\n$ordPlan")
      } finally spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", savedOrd)
      // the post-join pair dedup legitimately exchanges skinny (id_a,
      // id_b) rows; what must NOT exist is a shuffle between the
      // bucketed scan and its join — that would mean the corpus-sized
      // index was re-partitioned despite the pre-paid layout
      def bucketedScanBelowWithoutJoin(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.bucketedScan
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec => false
        case other => other.children.exists(bucketedScanBelowWithoutJoin)
      }
      val shuffledIndex = plan.collect {
        case s: ShuffleExchangeExec if s.children.exists(bucketedScanBelowWithoutJoin) => s
      }
      assert(shuffledIndex.isEmpty, s"bucketed index side still exchanges:\n$plan")
      assert(cands.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._2)
    }
    } finally {
      // managed table + warehouse files would otherwise outlive the test
      // in the shared session's catalog
      spark.sql("DROP TABLE IF EXISTS graft_lsh_idx_spec")
    }
  }

  test("writeBucketedOnce: same identity reuses the layout, changed identity rebuilds") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    try {
      graft.ops.Bucketing.writeBucketedOnce(df, "graft_once_spec", Seq("k"), 2, "id-1")
      val files1 = spark.table("graft_once_spec").inputFiles.toSet
      // same identity: no rewrite — an Overwrite would commit new part
      // files under a fresh job UUID, so identical file names prove skip
      graft.ops.Bucketing.writeBucketedOnce(df, "graft_once_spec", Seq("k"), 2, "id-1")
      assert(spark.table("graft_once_spec").inputFiles.toSet == files1,
        "pay-once layout was rewritten for an unchanged identity")
      // changed identity (re-provisioned source): must rebuild
      graft.ops.Bucketing.writeBucketedOnce(df, "graft_once_spec", Seq("k"), 2, "id-2")
      assert(spark.table("graft_once_spec").inputFiles.toSet != files1,
        "stale layout served after the source identity changed")
      // changed layout params under the same data identity: rebuild too
      val files2 = spark.table("graft_once_spec").inputFiles.toSet
      graft.ops.Bucketing.writeBucketedOnce(df, "graft_once_spec", Seq("k"), 4, "id-2")
      assert(spark.table("graft_once_spec").inputFiles.toSet != files2,
        "bucket-count change did not rebuild the layout")
    } finally spark.sql("DROP TABLE IF EXISTS graft_once_spec")
  }

  test("plain-parquet LSH index: map-side probe keeps the corpus index Exchange-free") {
    // the layout the CLI admission actually persists (`<out>.artifacts/
    // lsh` is plain parquet, not a bucketed table) — past the broadcast
    // threshold a naive candidate equi-join would re-shuffle this
    // corpus-sized side on EVERY increment; the probe joins the scan
    // against a broadcast of the batch's own bucket keys instead, so
    // the index streams map-side and everything downstream is
    // batch-bounded. Pin AQE and AUTO-broadcast off: the probe's
    // explicit hint must hold on its own.
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val dir = tempDir("graft-probe-idx-").toString
    val saved = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      Dedup.buildLshIndex(corpus, "doc_id", $"text").write.mode("overwrite").parquet(dir)
      val reread = spark.read.parquet(dir)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batchBuckets = Dedup.bandBuckets(
        Dedup.minhashSigs(batch, "doc_id", $"text", 3, 64), 64, 16).localCheckpoint(true)
      val probed = Dedup.probeIndex(reread.select($"doc", $"band", $"bucket"),
        batchBuckets, Seq("band", "bucket"))
      val cands = Dedup.incrementalCandidates(batchBuckets, probed)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      val plan = cands.queryExecution.executedPlan
      // the index is the ONLY parquet scan in this plan (the batch side
      // is a checkpointed RDD) — it must reach its first join with no
      // Exchange under it
      assert(plan.collect { case f: FileSourceScanExec => f }.nonEmpty,
        s"expected the index parquet scan in the plan:\n$plan")
      def scanBelowWithoutJoin(p: SparkPlan): Boolean = p match {
        case _: FileSourceScanExec => true
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec => false
        case other => other.children.exists(scanBelowWithoutJoin)
      }
      val shuffledIndex = plan.collect {
        case s: ShuffleExchangeExec if s.children.exists(scanBelowWithoutJoin) => s
      }
      assert(shuffledIndex.isEmpty, s"probed index side still exchanges:\n$plan")
      // and the probe itself must be the broadcast join the hint forces
      val probeJoins = plan.collect {
        case b: BroadcastHashJoinExec if b.children.exists(scanBelowWithoutJoin) => b
      }
      assert(probeJoins.nonEmpty, s"probe did not plan as a broadcast join:\n$plan")
      // parity: probing only removes index rows whose keys the batch
      // lacks — the candidate pairs are identical to the un-probed join
      val unprobed = Dedup.incrementalCandidates(
          batchBuckets, reread.select($"doc", $"band", $"bucket"))
        .as[(Long, Long)].collect().toSet
      val got = cands.as[(Long, Long)].collect().toSet
      assert(got == unprobed && got.nonEmpty,
        s"probe changed candidates: ${got.diff(unprobed)} / ${unprobed.diff(got)}")
      // the cosine admission shares the same probe on (seed, bucket) —
      // pin its plan shape too, on the cosine artifact layout
      val eCorpus = emb.filter(pmod($"vec_id", lit(10)) =!= 0)
      val eBatch = emb.filter(pmod($"vec_id", lit(10)) === 0)
      val cosDir = new java.io.File(dir, "cos").toString
      Similarity.buildCosineLshIndex(eCorpus, "vec_id", "embedding")
        .write.mode("overwrite").parquet(cosDir)
      val cosBatchRows = Similarity.buildCosineLshIndex(eBatch, "vec_id", "embedding")
        .localCheckpoint(true)
      val cosProbed = Dedup.probeIndex(
        spark.read.parquet(cosDir).select($"doc", $"seed", $"bucket"),
        cosBatchRows, Seq("seed", "bucket"))
      val cosPlan = cosBatchRows.as("l")
        .join(cosProbed.as("r"), Seq("seed", "bucket"))
        .filter($"l.doc" =!= $"r.doc")
        .queryExecution.executedPlan
      assert(cosPlan.collect {
        case s: ShuffleExchangeExec if s.children.exists(scanBelowWithoutJoin) => s
      }.isEmpty, s"probed cosine index side still exchanges:\n$cosPlan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._2)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("incremental embed admission: parquet-index parity with live, stamp refusals, precision 1") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val corpus = e.filter(pmod($"vec_id", lit(10)) =!= 0)
    val batch = e.filter(pmod($"vec_id", lit(10)) === 0)
    val idxDir = tempDir("graft-embidx-spec").toString
    try {
      graft.ops.Similarity.buildCosineLshIndex(corpus, "vec_id", "embedding")
        .write.mode("overwrite").parquet(idxDir)
      val reread = spark.read.parquet(idxDir)
      assert(reread.schema("bucket").metadata.contains("graft.numPlanes"),
        "parameter stamp did not survive the parquet roundtrip")
      val live = graft.ops.Similarity.incrementalCosinePairs(
          corpus, batch, "vec_id", "embedding", 0.3)
        .as[(Long, Long)].collect().toSet
      val viaParquet = graft.ops.Similarity.incrementalCosinePairs(
          corpus, batch, "vec_id", "embedding", 0.3, corpusIndex = Some(reread))
        .as[(Long, Long)].collect().toSet
      assert(live == viaParquet && live.nonEmpty,
        s"parquet index path diverged: ${live.diff(viaParquet)} / ${viaParquet.diff(live)}")
      // every admitted pair must be a true near-dup (precision 1.0) and touch the batch
      val exact = graft.ops.Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.3,
          maxRows = 10000L)
        .as[(Long, Long)].collect().toSet
      assert(live.subsetOf(exact), s"false admissions: ${live.diff(exact)}")
      assert(live.forall { case (a, b) => a % 10 == 0 || b % 10 == 0 })
      // parameter mismatch and stripped metadata are refused loudly
      assertThrows[IllegalArgumentException] {
        graft.ops.Similarity.incrementalCosinePairs(corpus, batch, "vec_id", "embedding", 0.3,
          numPlanes = 8, corpusIndex = Some(reread))
      }
      assertThrows[IllegalArgumentException] {
        val stripped = reread.withColumn("bucket", $"bucket".cast("string").cast("long"))
        graft.ops.Similarity.incrementalCosinePairs(corpus, batch, "vec_id", "embedding", 0.3,
          corpusIndex = Some(stripped))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }
  }

  test("exact-substring scrub removes corpus-duplicated k-token spans, keeps the rest") {
    val df = Seq(
      (1L, "a b c d x"),       // shares "a b c" / "b c d" with doc 2
      (2L, "a b c d y"),
      (3L, "u v w z q"),       // unique — untouched
      (4L, "m n m n m n"))     // intra-doc repeats count toward minCount
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrScrub(df, "doc_id", $"text", k = 3)
      .orderBy($"doc").as[(Long, String, Long)].collect().toSeq
    // docs 1/2: starts {0,1} cover tokens 0..3, the differing tail stays
    assert(out == Seq(
      (1L, "x", 4L), (2L, "y", 4L), (3L, "u v w z q", 0L), (4L, "", 6L)))
    assertThrows[IllegalArgumentException] {
      Dedup.exactSubstrScrub(df, "doc_id", $"text", k = 3, minCount = 1)
    }
    // raising minCount above the span's frequency keeps everything
    assert(Dedup.exactSubstrScrub(df, "doc_id", $"text", k = 3, minCount = 3)
      .filter($"n_removed" > 0).count() == 0)
  }

  test("temperature mixture: smallest stratum whole, larger ones cut by (cmin/c)^(1-a)") {
    val df = (1L to 100L).map(i => (i, if (i <= 90) "big" else "small")).toDF("id", "s")
    val out = Sampling.temperatureMixture(df, $"id", $"s", alpha = 0.5)
    val by = out.groupBy($"s").count().as[(String, Long)].collect().toMap
    assert(by.getOrElse("small", 0L) == 10L, s"smallest stratum must survive whole: $by")
    // big's survival threshold is round(sqrt(10/90)*1000) = 333 permille;
    // the kept set is exactly the hash-rule's verdict, not a random draw
    val expectedBig = df.filter($"s" === "big")
      .filter(Sampling.hashPermille($"id") < 333).count()
    assert(by.getOrElse("big", 0L) == expectedBig, s"big stratum: $by vs expected $expectedBig")
    // alpha = 1 is the natural mix — everything survives
    assert(Sampling.temperatureMixture(df, $"id", $"s", alpha = 1.0).count() == 100)
    assertThrows[IllegalArgumentException] {
      Sampling.temperatureMixture(df, $"id", $"s", alpha = 0.0)
    }
  }

  test("epoch mixture: minority stratum repeats, majority downsamples, cap honored") {
    val df = (1L to 100L).map(i => (i, if (i <= 90) "big" else "small")).toDF("id", "s")
    // 50/50 target over T=100 → r_small = 50/10 = 5.0 (five whole
    // epochs, no fractional copy), r_big = 50/90 ≈ 0.5556
    val out = Sampling.epochMixture(df, $"id", $"s", Map("big" -> 0.5, "small" -> 0.5))
      .as[(Long, String, Long)].collect()
    val small = out.filter(_._2 == "small")
    assert(small.length == 50, s"small must run 5 epochs: ${small.length}")
    assert(small.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (0L until 5L) },
      "each small doc must carry contiguous copy indices 0..4")
    // big's fractional copy: thr = floor(0.5555…·1000) = 555 permille
    val expectedBig = df.filter($"s" === "big")
      .filter(Sampling.hashPermille($"id") < 555).count()
    assert(out.count(_._2 == "big") == expectedBig,
      "big stratum's single fractional copy must follow the hash rule")
    // the repeat cap binds: an extreme target cannot explode the output
    val capped = Sampling.epochMixture(df, $"id", $"s",
      Map("big" -> 0.01, "small" -> 0.99), maxRepeat = 2.0)
    assert(capped.filter($"stratum" === "small").count() == 20,
      "maxRepeat=2 must bound the minority stratum at 2 epochs")
    // strata outside the target map drop; unreachable targets fail loudly
    assert(Sampling.epochMixture(df, $"id", $"s", Map("small" -> 1.0))
      .filter($"stratum" === "big").count() == 0)
    assertThrows[IllegalArgumentException] {
      Sampling.epochMixture(df, $"id", $"s", Map("absent" -> 1.0))
    }
  }

  test("top-k per stratum: k best by score, ties broken by id, short strata intact") {
    val df = Seq(
      ("en", 1L, 0.9), ("en", 2L, 0.9), ("en", 3L, 0.5), ("en", 4L, 0.7),
      ("fr", 5L, 0.1)).toDF("lang", "id", "score")
    val top = Sampling.topKPerStratum(df, $"lang", $"score", $"id", 2)
      .select($"lang", $"id").as[(String, Long)].collect().toSet
    // en: the two 0.9s (tie → lower ids 1,2 beat id 4's 0.7); fr: its only row
    assert(top == Set(("en", 1L), ("en", 2L), ("fr", 5L)))
    assert(Sampling.topKPerStratum(df, $"lang", $"score", $"id", 10).count() == 5)
    assertThrows[IllegalArgumentException] {
      Sampling.topKPerStratum(df, $"lang", $"score", $"id", 0)
    }
  }

  test("global rank: dense 1..N ordinal matching the single-window reference, stable across partitionings") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", TA.qualityScore($"text").as("q"))
    val got = Sampling.globalRank(docs, Seq($"q".desc, $"doc_id".asc))
      .select($"doc_id", $"rank").as[(Long, Long)].collect().toMap
    val want = docs.withColumn("rank",
        row_number().over(Window.orderBy($"q".desc, $"doc_id".asc)).cast("long"))
      .select($"doc_id", $"rank").as[(Long, Long)].collect().toMap
    assert(got == want, "global rank diverges from the window reference")
    assert(got.values.toSeq.sorted == (1L to got.size.toLong),
      "ranks are not the dense 1..N sequence")
    // a different partition count must not move any rank (boundaries
    // shift; the total order does not)
    val alt = Sampling.globalRank(docs, Seq($"q".desc, $"doc_id".asc), numPartitions = 3)
      .select($"doc_id", $"rank").as[(Long, Long)].collect().toMap
    assert(alt == want, "rank depends on the range partitioning")
    assertThrows[IllegalArgumentException] { Sampling.globalRank(docs, Seq.empty) }
  }

  test("bm25: term-frequency and rarity ordering, hit-only output, k bound") {
    val df = Seq(
      (1L, "spark spark spark data data"),   // 3× common term
      (2L, "spark data data data data"),     // 1× common term
      (3L, "vector data data data data"),    // 1× rare term
      (4L, "data data data data data"),      // no query term
      (5L, "spark vector data data data")    // one of each
    ).toDF("doc_id", "text")
    val scores = graft.ops.Vocab.bm25TopK(df, "doc_id", $"text", Seq("spark", "vector"), 10)
      .as[(Long, Double)].collect().toMap
    assert(!scores.contains(4L), "doc without any query term was scored")
    assert(scores(1L) > scores(2L), "higher tf must score higher at equal dl")
    // "vector" appears in 2 docs, "spark" in 3 → rarer term outscores at equal tf/dl
    assert(scores(3L) > scores(2L), "rarer term must carry higher idf")
    assert(scores(5L) > scores(1L), "covering both terms beats repeating one")
    val top1 = graft.ops.Vocab.bm25TopK(df, "doc_id", $"text", Seq("spark", "vector"), 1)
    assert(top1.count() == 1 && top1.select($"doc_id").as[Long].head() == 5L)
    assertThrows[IllegalArgumentException] {
      graft.ops.Vocab.bm25TopK(df, "doc_id", $"text", Seq.empty, 1)
    }
  }

  test("mean pool: per-dimension group means, exact on representable values") {
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)), (1, Seq(5.0f, -1.0f))
    ).toDF("label", "embedding")
    val got = Similarity.meanPool(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 0) -> 2.0, (0, 1) -> 4.0, (1, 0) -> 5.0, (1, 1) -> -1.0))
  }

  test("deflate ratio: parity with reference deflate, repetitive < diverse, empty = 1.0") {
    import org.apache.spark.unsafe.types.UTF8String
    val rep = ("spam copy " * 80).trim
    val div = (0 until 80).map(i => s"tok${i * 7919}").mkString(" ")
    val df = Seq((1L, rep), (2L, div), (3L, "")).toDF("doc_id", "text")
    val got = df.select($"doc_id", call_function("graft_deflate_ratio", $"text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact parity with the static reference implementation
    for ((id, s) <- Seq(1L -> rep, 2L -> div, 3L -> ""))
      assert(got(id) == graft.functions.DeflateRatioExpr.compute(UTF8String.fromString(s)))
    assert(got(1L) < got(2L), "repetitive text must compress better than diverse")
    assert(got(3L) == 1.0)
    // whole-stage codegen keeps the expression in the compiled stage
    // (a parquet-backed frame — LocalTableScan computes projections
    // without a codegen stage at all)
    val p = docs.select(call_function("graft_deflate_ratio", $"text"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*("), "deflate ratio fell out of whole-stage codegen")
  }

  test("top n-gram char fraction: dominant-phrase mass over doc chars, short-doc safe") {
    val df = Seq(
      (1L, "a b a b c"),   // top 2-gram "a b" ×2, 2 chars each, over 5 chars → 0.8
      (2L, "x y z"),       // every 2-gram unique: 2/3
      (3L, "solo")         // shorter than the gram: 0.0
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TA.topNgramCharFraction($"text", 2))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.8)
    assert(got(2L) == 2.0 / 3.0)
    assert(got(3L) == 0.0)
  }

  test("duplicate-line fractions: occurrence and char-weighted, empty-safe") {
    val df = Seq(
      (1L, "a\nb\na"),        // 1 of 3 lines is a repeat; 1 of 3 chars
      (2L, "xx\ny\nxx\nxx"),  // 2 of 4 lines; 4 of 7 chars
      (3L, "u\nv"),           // no repeats
      (4L, "")                // degenerate: one empty line, zero chars
    ).toDF("doc_id", "text")
    val rows = df.select($"doc_id",
        TA.dupLineFraction($"text"), TA.dupLineCharFraction($"text"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows(1L) == ((1.0 / 3.0, 1.0 / 3.0)))
    assert(rows(2L) == ((0.5, 4.0 / 7.0)))
    assert(rows(3L) == ((0.0, 0.0)))
    assert(rows(4L) == ((0.0, 0.0)))
  }

  test("as-of join: latest at-or-before match, inclusive ties, null on no match, max payload on dup ts") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.from(java.time.Instant.ofEpochSecond(s))
    val left = Seq(
      (1L, 10L, t(100)), // after right rows at 50 and 90 → match 90
      (2L, 10L, t(50)),  // equal ts to a right row → inclusive match 50
      (3L, 10L, t(10)),  // before every right row → null
      (4L, 20L, t(100))  // key with no right rows at all → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, t(50), 501L), (10L, t(90), 509L),
      (30L, t(1), 999L)   // right-only key must not appear
    ).toDF("user_id", "ts", "match_id")
    val got = graft.ops.Joins.asofJoin(left, right, "user_id", "ts", Seq("match_id"))
      .select($"event_id", $"match_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1L -> 509L, 2L -> 501L, 3L -> -1L, 4L -> -1L))
    // several right rows at the SAME (key, ts): greatest payload wins
    val dup = Seq((10L, t(50), 7L), (10L, t(50), 9L)).toDF("user_id", "ts", "match_id")
    val pick = graft.ops.Joins.asofJoin(
        left.filter($"event_id" === 1L), dup, "user_id", "ts", Seq("match_id"))
      .select($"match_id").as[Long].head()
    assert(pick == 9L)
    assertThrows[IllegalArgumentException] {
      graft.ops.Joins.asofJoin(left, right, "user_id", "ts", Seq("event_id"))
    }
    // tolerance: a match older than the lookback bound resolves to null
    def withTol(tol: String) = graft.ops.Joins.asofJoin(
        left.filter($"event_id" === 1L), right, "user_id", "ts",
        Seq("match_id"), tolerance = Some(tol))
      .select($"match_id").collect().head
    assert(withTol("15 seconds").getLong(0) == 509L,   // 100-90=10s in bound
      "in-tolerance match lost")
    assert(withTol("5 seconds").isNullAt(0),           // 10s exceeds 5s
      "out-of-tolerance match must null out")
  }

  test("binned range join: inclusive bounds, multi-day intervals, no duplicate pairs") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00")), // == interval start: inclusive
      (2L, t("2024-01-02 12:00:00")), // mid-interval, different day bin
      (3L, t("2024-01-03 23:59:59")), // == interval end: inclusive
      (4L, t("2024-01-04 00:00:01"))  // past the end: dropped
    ).toDF("event_id", "ts")
    val iv = Seq(("a", t("2024-01-01 00:00:00"), t("2024-01-03 23:59:59")))
      .toDF("label", "s", "e")
    val got = graft.ops.Joins.rangeJoinByDay(rows, "ts", iv, "s", "e")
      .select($"event_id", $"label").as[(Long, String)].collect().toSeq
    assert(got.sorted == Seq((1L, "a"), (2L, "a"), (3L, "a")),
      s"range join wrong/duplicated: $got")
    // an inverted interval contains nothing and must not kill the job
    val inverted = Seq(("bad", t("2024-01-03 00:00:00"), t("2024-01-01 00:00:00")))
      .toDF("label", "s", "e")
    assert(graft.ops.Joins.rangeJoinByDay(rows, "ts", inverted, "s", "e").count() == 0)
  }

  test("corpus sketches: HLL vocab within 2% of exact, quantiles bracket the exact ranks") {
    val row = SparkEntry.queries("x_corpus_sketches")(spark, sfDir).collect().head
    val approxVocab = row.getLong(0)
    val toks = docs.select(explode(split(lower(trim($"text")), "\\s+")).as("token"))
      .filter($"token" =!= "")
    val exactVocab = toks.distinct().count()
    assert(math.abs(approxVocab - exactVocab).toDouble / exactVocab < 0.02,
      s"HLL vocab $approxVocab vs exact $exactVocab drifts past 2%")
    // accuracy 10000 ⇒ rank error ≤ n/10000 — exact at this corpus size
    val ns = docs.select(TA.tokenCount($"text")).as[Int].collect().sorted
    def rankAt(p: Double) = ns(math.ceil(p * ns.length).toInt.min(ns.length) - 1)
    assert(row.getInt(1) == rankAt(0.5), "p50 sketch missed the exact rank value")
    assert(row.getInt(2) == rankAt(0.95), "p95 sketch missed the exact rank value")
  }

  test("indexed bm25 equals the live-scan form over the same corpus") {
    val (postings, doclens) = graft.ops.Vocab.buildBm25Index(docs, "doc_id", $"text")
    val live = graft.ops.Vocab.bm25TopK(docs, "doc_id", $"text",
      Seq("spark", "vector"), 15).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val indexed = graft.ops.Vocab.bm25TopKIndexed(postings, doclens, "doc_id",
      Seq("spark", "vector"), 15).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(live.nonEmpty && live.toSeq == indexed.toSeq,
      "indexed path diverges from live scan")
  }

  test("cluster representatives: argmax-quality member wins, ties to lower id, every member labeled") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val quality = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),   // component {1,2,3}: best is 2
      (10L, 0.7), (11L, 0.7)             // component {10,11}: tie → lower id 10
    ).toDF("doc_id", "q")
    val got = Dedup.clusterRepresentatives(pairs, quality, "doc_id", "q")
      .select($"doc_id", $"cluster_id", $"rep_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 1L, 2L),
      (10L, 10L, 10L), (11L, 10L, 10L)))
    // the quality-chosen drop list differs from the min-id one exactly
    // on the component whose best member is not its min id
    val drops = got.filter { case (d, _, rep) => d != rep }.map(_._1)
    assert(drops == Set(1L, 3L, 11L))
  }

  test("cluster representatives: string ids — deterministic tie-break without numeric negation") {
    // regression: the old tie-break negated the id column, which on a
    // string id casts to double → null → nondeterministic winner
    val pairs = Seq(("b", "c"), ("c", "a"), ("y", "z")).toDF("id_a", "id_b")
    val quality = Seq(
      ("a", 0.4), ("b", 0.4), ("c", 0.4), // all tied → lexicographic min "a"
      ("y", 0.1), ("z", 0.8)              // clear winner "z"
    ).toDF("doc_id", "q")
    val got = Dedup.clusterRepresentatives(pairs, quality, "doc_id", "q")
      .select($"doc_id", $"rep_id")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "z", "z" -> "z"))
  }

  test("doremiWeights: the high-excess-loss domain gains weight, symmetric domains stay tied") {
    import graft.ops.DomainReweight
    // 'easy' domains share common tokens (low NLL under the corpus
    // LM); 'hard' is all rare singletons (high NLL) → EG must upweight
    val df = Seq(
      ("easy1", "alpha beta gamma alpha beta gamma alpha beta"),
      ("easy2", "alpha beta gamma alpha beta gamma beta alpha"),
      ("hard", "qq ww ee rr tt yy uu oo")).toDF("source", "text")
    val w = DomainReweight.doremiWeights(df, $"source", $"text", rounds = 4)
      .select($"source", $"w_q").as[(String, Long)].collect().toMap
    assert(w("hard") > w("easy1"))
    assert(w("easy1") == w("easy2")) // identical token multisets tie exactly
    // integer renormalization keeps total mass at ~WScale (floor slack ≤ #domains·quantum)
    assert(math.abs(w.values.sum - DomainReweight.WScale) < 1000000L)
  }

  test("pageRank: symmetric cycle stays uniform, sink-heavy graph ranks the sink highest") {
    import graft.ops.LinkGraph
    // 2-cycle: a<->b — perfectly symmetric, so ranks stay equal every
    // round and (with no dangling leak) sum to ~Scale
    val cyc = LinkGraph.pageRank(
        Seq(1L, 2L).toDF("id"),
        Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(cyc(1L) == cyc(2L))
    assert(math.abs(cyc.values.sum - LinkGraph.Scale) <= 8) // rounding only
    // star: 1,2,3 all point at 4; 4 points back at 1 — 4 must dominate
    val star = LinkGraph.pageRank(
        Seq(1L, 2L, 3L, 4L).toDF("id"),
        Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 1L)).toDF("src", "dst"), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(star(4L) > star(1L) && star(1L) > star(2L) && star(2L) == star(3L))
    // inflow to an id absent from the node set is dropped (dangling
    // leak is deliberate); the absent id never appears in the output
    val leak = LinkGraph.pageRank(
        Seq(1L, 2L).toDF("id"),
        Seq((1L, 2L), (2L, 99L)).toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(leak.keySet == Set(1L, 2L))
    assert(leak.values.sum < LinkGraph.Scale) // mass left through 99
  }
}

object OpsSpec {
  /** Deterministic stand-in for a real decoder — top-level so the
    * factory lambda serializes without dragging the suite along.
    */
  object FixedCodec extends graft.ops.MediaCodec {
    def decode(bytes: Array[Byte], mediaType: String): (Int, Int, Array[Double]) =
      (7, 9, Array(1.0, 2.0, 3.0))
    def resize(bytes: Array[Byte], mediaType: String, width: Int, height: Int): Array[Byte] =
      Array.fill(width * height)(0x2a.toByte)
    def frames(bytes: Array[Byte], mediaType: String): Iterator[Array[Byte]] =
      Iterator(bytes)
    def luminances(bytes: Array[Byte], mediaType: String): (Int, Int, Array[Int]) =
      (7, 9, Array.fill(63)(42))
  }
}
