package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pins, Tables}
import graft.ops.{Dedup, Multimodal, Sampling, Selection, Similarity, Splits, TextAnalysis => TA}

/** LLM-data-pipeline operator queries over `documents`/`embeddings`.
  *
  * Hash-based ops (MinHash-LSH, SimHash, hyperplane LSH) have no direct
  * DuckDB-expressible oracle (xxhash64 differs) → the raw queries get a
  * rows-only check, and three indirect oracles close the gap:
  *   - `*_precision` entries assert `approx ∪ exact == exact` against
  *     the exact operator's SQL (precision = 1.0, hash-checked);
  *   - `x_simhash_md5` oracles the signature algorithm bit-for-bit via
  *     a portable md5 token hash;
  *   - recall floors vs the exact operators live in OpsSpec.
  */
object OpsQueries {

  /** k' of the ANN containment oracles: every approximate neighbor must
    * rank in the exact global top-k'. The measured margin (worst exact
    * rank 69 at sf0.1) sits well under it; OpsSpec's IVF-PQ refined
    * test asserts the bound for the LSH and IVF searches at sf0.01.
    */
  val AnnOracleKPrime = 200

  /** Containment head for the RAW-ADC IVF-PQ precision oracle — far
    * wider than the LSH/IVF one because PQ quantization distorts rank
    * itself, not just candidate selection, and on near-random
    * embeddings the distortion is heavy-tailed: measured worst exact
    * rank of a returned neighbor is 193 at sf0.01 and 998 at sf0.1
    * (m=16, k=16; asserted at sf0.01 in OpsSpec). 2000 holds sf0.1
    * with 2× margin;
    * this is the honest cost of skipping the refine stage — the
    * refined variant below is the production configuration.
    */
  val PqOracleKPrime = 2000

  /** Containment head for the refined (exact-re-rank) IVF-PQ oracle:
    * the refine stage re-ranks the ADC shortlist by TRUE cosine, so a
    * returned neighbor's exact rank is bounded by candidate selection
    * (cells + shortlist membership), not by PQ's distance distortion —
    * measured worst exact rank 20 at sf0.01 / 17 at sf0.1, the
    * plain-IVF regime, so the IVF family's 200 holds with 10× margin
    * (asserted at sf0.01 in OpsSpec).
    */
  val RefinedOracleKPrime = 200

  /** Row bound for the exact quadratic embedding verifier when invoked
    * from registered queries: the x_embed_near_dup* entries sample
    * vec_id%10, so this holds through SF ~40× the bench SF; the vectors
    * broadcast at this bound is ~26 MB (100k × 64 floats) — safe, while
    * still failing loudly before an unbounded corpus OOMs the build.
    */
  val ExactNearDupMaxRows = 100000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens"))),

    "x_bpe_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.bpeTokenCount(col("text")).as("n_bpe_tokens"))),

    "x_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.langId(col("text")).as("lang_guess"))),

    "x_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))),

    "x_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))),

    "x_fingerprint_dedup" -> ((s, dir) =>
      Dedup.fingerprintDedup(Tables.documents(s, dir), col("text"), "doc_id")),

    // exact duplicate groups over a key with real multiplicity
    // (multi-line orders): one row per duplicated key, count +
    // canonical representative
    "x_exact_dup_groups" -> ((s, dir) =>
      Dedup.exactDupGroups(Tables.lineitem(s, dir), col("l_orderkey"), "l_linenumber")),

    // exact n-gram Jaccard near-dup pairs (threshold 0.8, word 3-grams);
    // eager + df-ordered: the standalone query pins the gram exchange
    // and runs the canonical rarest-first prefix (see ppjoinCandidates)
    "x_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", col("text"), 3, 0.8,
          eager = true, dfOrder = true)
        .select(col("id_a"), col("id_b"),
          // stabilize the double for cross-engine hashing
          round(col("jaccard"), 6).as("jaccard"))),

    // MinHash+LSH (no oracle — banding keys are JVM xxhash64, not SQL;
    // x_minhash_lsh_precision is the hash-green twin and OpsSpec pins
    // the recall floor vs x_ngram_jaccard)
    "x_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", col("text"))
        .select(col("id_a"), col("id_b"))),

    // SimHash near-dup pairs (no oracle — the 64-bit plane hashes are
    // JVM-side; x_simhash_md5 is the hash-green md5-parity twin)
    "x_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", col("text"), maxDistance = 8)),

    // exact cosine top-5 per query vector (every 100th vector queries)
    "x_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb, emb.filter(pmod(col("vec_id"), lit(100)) === 0), "vec_id", "embedding", 5)
    }),

    // hyperplane-LSH ANN (no oracle — recall vs brute force in OpsSpec)
    "x_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(
        emb, emb.filter(pmod(col("vec_id"), lit(100)) === 0), "vec_id", "embedding", 5)
    }),

    // embedding-cosine near-dup pairs, exact over the vec_id%10 sample
    // (the quadratic verifier; threshold 0.3 per the testdata's cosine
    // distribution — no planted near-dups, max pairwise cosine ~0.5)
    "x_embed_near_dup" -> ((s, dir) => {
      val sample = Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(10)) === 0)
      Similarity.cosineNearDupPairs(sample, "vec_id", "embedding", 0.3,
        maxRows = ExactNearDupMaxRows)
    }),

    // embedding near-dup over the FULL corpus via LSH blocking + exact
    // cosine filter (no oracle — precision-1 subset of the exact pairs,
    // verified in OpsSpec)
    "x_embed_near_dup_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupPairsLsh(
        Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)),

    // SemDeDup semantic near-dup pairs over the full corpus: k-means
    // cells + within-cell exact cosine (no oracle — precision-1 subset
    // of the exact pairs, twin below)
    "x_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)),

    // precision oracle: semdedup pairs on the %10 sample ∪ exact == exact
    "x_semantic_dedup_precision" -> ((s, dir) => {
      val sample = Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(10)) === 0)
      Similarity.semanticDedupPairs(sample, "vec_id", "embedding", 0.3, sampleMod = 1)
        .union(Similarity.cosineNearDupPairs(sample, "vec_id", "embedding", 0.3,
          maxRows = ExactNearDupMaxRows))
        .distinct()
    }),

    // D4-style cluster diversification (Tirumala et al. 2023) over
    // deterministic landmark cells: nearest-landmark Voronoi assignment
    // + per-cell prototype pruning — the FULL kept/dropped decision is
    // DuckDB-oracle-checked because the centroids are corpus rows, not
    // a training loop
    "x_cluster_diversify" -> ((s, dir) =>
      Similarity.diversifyLandmarks(Tables.embeddings(s, dir),
          "vec_id", "embedding", 0.25, 16, 25)
        .withColumnRenamed("doc", "vec_id")),

    // cluster-balanced (topic-balanced) sampling over the same landmark
    // cells: every cell downsampled to the smallest cell's mass via the
    // deterministic id-hash permille — the semantic analog of
    // x_stratified_sample, fully oracle-checked
    "x_cluster_balanced_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSampleLandmarks(Tables.embeddings(s, dir),
        "vec_id", "embedding", 16, 25).withColumnRenamed("doc", "vec_id")),

    // production D4: trained spherical k-means cells, same pruning (no
    // oracle — the Lloyd loop isn't SQL; invariants, literal/broadcast
    // parity and the landmark twin above are the checks, in OpsSpec)
    "x_d4_diversify" -> ((s, dir) =>
      Similarity.diversify(Tables.embeddings(s, dir),
          "vec_id", "embedding", 0.25, nCentroids = 16, sampleMod = 1)
        .withColumnRenamed("doc", "vec_id")),

    // IVF ANN: coarse k-means cells + nProbe probing (no oracle —
    // recall vs brute force in OpsSpec). The coarse fit comes from the
    // shared pay-once cache (r19 verdict #3): training is
    // deterministic, so the result and plan are identical to an
    // in-query fit — only the cost placement moves to prebuild.
    "x_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
        emb, emb.filter(pmod(col("vec_id"), lit(100)) === 0), "vec_id", "embedding", 5,
        centroids0 = Some(cachedIvfCentroids(s, dir)))
    }),

    // IVF-PQ ANN: coarse cells + product-quantized ADC ranking — the
    // corpus's float vectors are never read at search time, only
    // (doc, cell, 16 codes); the 100 TB memory story (no oracle —
    // recall floor + containment in OpsSpec, precision twin below)
    "x_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(
        emb, emb.filter(pmod(col("vec_id"), lit(100)) === 0), "vec_id", "embedding", 5,
        index = Some(cachedIvfPqIndex(s, dir)), encoded = Some(cachedPqCodes(s, dir)))
    }),

    "x_ann_ivfpq_precision" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
          index = Some(cachedIvfPqIndex(s, dir)), encoded = Some(cachedPqCodes(s, dir)))
        .select(col("query_id"), col("neighbor_id"))
        .union(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", PqOracleKPrime)
          .select(col("query_id"), col("neighbor_id")))
        .distinct()
    }),

    // IVF-PQ + exact re-rank: ADC shortlists refineFactor·k candidates
    // per query over the codes, then only those true vectors are
    // fetched (broadcast shortlist against the pruned corpus scan) and
    // exact cosine picks the final top-k — PQ's memory story with the
    // IVF family's rank fidelity (no oracle — recall floor in OpsSpec,
    // precision twin below)
    "x_ann_ivfpq_refined" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKRefined(
        emb, emb.filter(pmod(col("vec_id"), lit(100)) === 0), "vec_id", "embedding", 5,
        index = Some(cachedIvfPqIndex(s, dir)), encoded = Some(cachedPqCodes(s, dir)))
    }),

    "x_ann_ivfpq_refined_precision" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      Similarity.ivfPqTopKRefined(emb, q, "vec_id", "embedding", 5,
          index = Some(cachedIvfPqIndex(s, dir)), encoded = Some(cachedPqCodes(s, dir)))
        .select(col("query_id"), col("neighbor_id"))
        .union(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", RefinedOracleKPrime)
          .select(col("query_id"), col("neighbor_id")))
        .distinct()
    }),

    // Precision oracles for the approximate family: `approx ∪ exact ==
    // exact` hash-compared against the EXACT operator's DuckDB SQL —
    // equivalent to "every approximate pair appears in the exact output"
    // (precision = 1.0), checkable cross-engine even though the hash
    // functions themselves aren't. Recall floors live in OpsSpec.
    // (union-of-candidates formulation: one shared gram exchange, one
    // verification pass — equals verified-LSH ∪ exact)
    "x_minhash_lsh_precision" -> ((s, dir) =>
      Dedup.minhashLshPrecisionUnion(
        Tables.documents(s, dir), "doc_id", col("text"), 3, 64, 16, 0.8)),

    // pairs → components: cluster the exact near-dup pairs and label
    // every clustered doc with its component's min id — the canonical
    // representative kept while the rest go on the drop list
    "x_near_dup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", col("text"), 3, 0.8,
          eager = true, dfOrder = true))),

    // incremental ingestion: admit a new batch (doc_id%10) against the
    // already-ingested corpus (the rest) — exact fingerprint admission,
    // fully oracled
    "x_incremental_dedup_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalExactDedup(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", col("text"))
    }),

    // incremental near-dup, precision-oracled like the other LSH ops:
    // (batch-touching LSH pairs, exact-verified) ∪ (exact pairs touching
    // the batch) == the exact restriction — DuckDB computes the right
    // side. Runs the REAL 100 TB path: the corpus LSH index is written
    // to parquet and reread (like j6 writes real bucketed tables), so
    // the stamp validation and the persisted-artifact join are what's
    // being oracled, not an in-memory shortcut.
    "x_incremental_near_dup_precision" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBatch = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
      val corpus = docs.filter(!isBatch(col("doc_id")))
      // deterministic per-dataset path, written once and reused — the
      // real ingest lifecycle (index persisted at ingest time, each
      // increment only READS it), and repeated verify/bench runs don't
      // accumulate orphaned temp dirs or re-pay the build
      val idxDir = indexCachePath(s, dir, "documents.parquet", "n=3,h=64,b=16,v1")
      if (!graft.store.ArtifactCache.isComplete(s, idxDir))
        Dedup.buildLshIndex(corpus, "doc_id", col("text"), 3, 64, 16)
          .write.mode("overwrite").parquet(idxDir)
      val inc = Dedup.incrementalNearDupPairs(
        corpus, docs.filter(isBatch(col("doc_id"))),
        "doc_id", col("text"), 3, 64, 16, 0.8,
        corpusIndex = Some(s.read.parquet(idxDir)))
      // the exact-restriction side is a FILTER of the corpus-level pair
      // set — read the shared pay-once artifact instead of running the
      // full PPJoin a second time (r17)
      val exact = corpusExactPairs(s, dir)
        .filter(isBatch(col("id_a")) || isBatch(col("id_b")))
      inc.select(col("id_a"), col("id_b"))
        .union(exact.select(col("id_a"), col("id_b")))
        .dropDuplicates("id_a", "id_b")
    }),

    // incremental embedding admission, the embed analog of
    // x_incremental_near_dup_precision: a new batch of vectors
    // (vec_id%10) admitted against the persisted corpus LSH index
    // (written once to parquet, reread each increment — the real ingest
    // lifecycle), precision-oracled as (incremental ∪ exact-touching-
    // batch) == exact restriction
    "x_incremental_embed_precision" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val isBatch = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
      val corpus = emb.filter(!isBatch(col("vec_id")))
      val idxDir = indexCachePath(s, dir, "embeddings.parquet", "cos,p=4,d=64,s=42-45,v1")
      if (!graft.store.ArtifactCache.isComplete(s, idxDir))
        Similarity.buildCosineLshIndex(corpus, "vec_id", "embedding")
          .write.mode("overwrite").parquet(idxDir)
      val inc = Similarity.incrementalCosinePairs(
        corpus, emb.filter(isBatch(col("vec_id"))), "vec_id", "embedding", 0.3,
        corpusIndex = Some(s.read.parquet(idxDir)))
      // exact restriction computed batch-sided (batch × corpus, batch
      // broadcast) — 10× cheaper than all-pairs-then-filter
      val b = emb.filter(isBatch(col("vec_id")))
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val exact = emb.select(col("vec_id").as("aid"), col("embedding").as("av"))
        .join(broadcast(b), col("aid") =!= col("bid"))
        .filter(Similarity.cosine(col("av"), col("bv")) >= 0.3)
        .select(least(col("aid"), col("bid")).as("id_a"),
          greatest(col("aid"), col("bid")).as("id_b"))
      inc.union(exact).dropDuplicates("id_a", "id_b")
    }),

    "x_embed_near_dup_lsh_precision" -> ((s, dir) => {
      val sample = Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(10)) === 0)
      Similarity.cosineNearDupPairsLsh(sample, "vec_id", "embedding", 0.3)
        .union(Similarity.cosineNearDupPairs(sample, "vec_id", "embedding", 0.3,
          maxRows = ExactNearDupMaxRows))
        .distinct()
    }),

    // ANN precision: every approximate neighbor must rank in the exact
    // global top-k' (AnnOracleKPrime=200 ≫ k=5 absorbs recall wobble with
    // margin — worst observed exact rank is 30 at sf0.01, 69 at sf0.1;
    // containment is what's asserted, not rank agreement)
    "x_ann_lsh_precision" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      Similarity.lshTopK(emb, q, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
        .union(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", AnnOracleKPrime)
          .select(col("query_id"), col("neighbor_id")))
        .distinct()
    }),

    "x_ann_ivf_precision" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5,
          centroids0 = Some(cachedIvfCentroids(s, dir)))
        .select(col("query_id"), col("neighbor_id"))
        .union(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", AnnOracleKPrime)
          .select(col("query_id"), col("neighbor_id")))
        .distinct()
    }),

    // portable (md5-based) simhash — bit-for-bit DuckDB-oracled variant
    // of the signature algorithm itself (xxhash64 isn't cross-engine)
    "x_simhash_md5" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Dedup.simhashPortable(col("text")).as("simhash60"))),

    // rolling-hash document fingerprints (MOSS winnowing): shared
    // substrings ≥ w+k-1 tokens guarantee a shared fingerprint.
    // Exploded to one (doc_id, fp) row per print so the oracle harness
    // can sort/hash scalar cells (docs too short for any print drop out
    // on both sides identically).
    "x_winnow_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TA.winnowFingerprints(col("text"))).as("fp"))),

    // substring-overlap pairs: docs sharing >= 2 winnow prints — the
    // copied-passage dup class whole-doc Jaccard misses. Runs the
    // measured skew default (maxDocFreq=128, see PLANS.md), mirrored
    // in the oracle's hot-print exclusion.
    "x_winnow_dup_pairs" -> ((s, dir) =>
      Dedup.winnowDupPairs(Tables.documents(s, dir), "doc_id", col("text"),
        k = 4, w = 4, minShared = 2, maxDocFreq = Dedup.WinnowDefaultMaxDocFreq)),

    // ExactSubstr-style span REMOVAL (the rewrite step winnow's
    // detection lacks): every 8-token span occurring ≥2× corpus-wide is
    // cut from its documents; output is the rewritten token stream plus
    // the removed-token count
    "x_exact_substr_scrub" -> ((s, dir) =>
      Dedup.exactSubstrScrub(Tables.documents(s, dir), "doc_id", col("text"),
          k = ExactSubstrK, minCount = 2)
        .withColumnRenamed("doc", "doc_id")),

    // decontamination: distinct 3-gram overlap of every corpus doc with
    // the "benchmark" slice (source = src0) — the pre-training eval-set
    // leak sweep; gram-keyed equi-join, benchmark side broadcasts
    "x_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationHits(
        docs.filter(col("source") =!= "src0"), "doc_id", col("text"),
        docs.filter(col("source") === "src0"), col("text"), 3)
        .select(col("doc").as("doc_id"), col("n_hits"))
    }),

    // decontamination with the map-side Bloom prefilter: same hits as
    // x_decontamination by construction (no false negatives; the exact
    // join confirms), so it shares that oracle verbatim — only the
    // plan differs (corpus grams thinned BEFORE the join exchange)
    "x_decontamination_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationHitsBloom(
        docs.filter(col("source") =!= "src0"), "doc_id", col("text"),
        docs.filter(col("source") === "src0"), col("text"), 3)
        .select(col("doc").as("doc_id"), col("n_hits"))
    }),

    // span-level decontamination (the GPT-3 Appendix-C recipe): cut
    // every 3-gram span a corpus doc shares with the benchmark slice
    // instead of dropping the doc — the keep-the-doc complement of
    // x_decontamination
    "x_decontamination_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminationScrub(
          docs.filter(col("source") =!= "src0"), "doc_id", col("text"),
          docs.filter(col("source") === "src0"), col("text"), 3)
        .withColumnRenamed("doc", "doc_id")
    }),

    // Gopher-style repetitious-text signal over word 2-grams
    "x_repetition_ratio" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TA.repetitionRatio(col("text"), 2).as("rep_ratio"))),

    // corpus profile: per-language doc counts, token mass, mean quality
    // — the first aggregate a training-data pipeline runs over a new
    // crawl (one map-side-combined groupBy over the corpus)
    "x_corpus_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(TA.langId(col("text")).as("lang_guess"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.qualityScore(col("text")).as("quality"))
        .groupBy(col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          CoreQueries.stableAvg(col("quality")).as("avg_quality"))),

    // sketch-based corpus profile — the 100 TB form of x_corpus_stats'
    // exact aggregates: HyperLogLog++ vocabulary cardinality and
    // t-digest-style token-length quantiles, both native codegen'd
    // Catalyst aggregates with bounded state (an exact distinct-count
    // shuffles the whole vocabulary; the sketch ships kilobytes per
    // partition). No DuckDB oracle by nature (sketch internals differ
    // across engines); OpsSpec bounds both against their exact
    // counterparts (<2% vocab error, quantiles bracketed).
    "x_corpus_sketches" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
      toks.agg(approx_count_distinct(col("token"), 0.01).as("approx_vocab"))
        .crossJoin(docs.select(TA.tokenCount(col("text")).as("n"))
          .agg(percentile_approx(col("n"), lit(0.5), lit(10000)).as("p50_tokens"),
            percentile_approx(col("n"), lit(0.95), lit(10000)).as("p95_tokens")))
    }),

    // deterministic stratified sampling: downsample the dominant
    // language to 20% while keeping the rest — the corpus-mixing move
    // before training. Hash-of-id decisions, so the sample is stable
    // across re-runs/engines and the filter is a stateless narrow op.
    "x_stratified_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("lang_guess", TA.langId(col("text")))
      Sampling.stratifiedSample(docs, col("doc_id"), col("lang_guess"),
          Map("en" -> 0.2), defaultRate = 1.0)
        .select(col("doc_id"), col("lang_guess"))
    }),

    // the capstone: one declarative preprocessing pipeline — Gopher
    // quality gate → benchmark decontamination (≥50% of a doc's
    // distinct 3-grams in the benchmark; a FRACTION, so the rule
    // survives benchmark growth where any absolute count would not) →
    // near-dup cluster dedup (keep canonical representatives) — every
    // stage an operator this engine ships, the whole flow one plan.
    // Each capstone entry (r10 verdict "What's wrong #2": a persisted
    // intermediate returned lazily strands a corpus-sized cache per
    // execution) builds and runs its capstone in a Pins scope of its
    // own: the (small, terminal) result is checkpointed eagerly — the
    // query-contract analog of the production sink write — and handed
    // to the caller, and every intermediate pin is released.
    "x_pipeline_corpus" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus")(pipelineCorpusV1(s, dir))),

    // capstone v2 — the FULL preprocessing pipeline as one flow, every
    // r7/r8 stage composed in execution order: PII scrub → Gopher gate
    // (on the scrubbed text, as a real pipeline would run it) →
    // fractional decontamination → near-dup cluster dedup → stratified
    // corpus mixing (en downsampled to 20%) → sequence packing as the
    // terminal stage. Every stage is scale-audited elsewhere; the
    // composition stays one declarative plan (the cluster rounds are
    // the only iteration) and is hash-matched against the identical
    // DuckDB CTE chain.
    "x_pipeline_corpus_v2" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus_v2")(pipelineCorpusV2(s, dir))),

    // capstone v3 — v2 plus the embedding-space stage the r9/r10 rounds
    // scale-proofed: after textual cluster dedup, SemDeDup semantic
    // near-dup pairs over the survivors' embeddings feed a second
    // cluster-dedup (keep each semantic component's min-id
    // representative), then mixing and packing run on the semantically
    // deduped set. Docs without an embedding skip the semantic stage
    // (they can't pair) and survive on the textual verdict alone. No
    // oracle by nature (k-means cells are driver state DuckDB can't
    // re-derive) — the precision twin below is the hash-checked form.
    "x_pipeline_corpus_v3" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus_v3")(
        pipelineCorpusV3(s, dir, semanticExactUnion = false))),

    // precision twin: the semantic stage's pair set is (SemDeDup ∪
    // exact); SemDeDup's exact within-cell cosine filter makes it a
    // precision-1 subset of the exact pairs, so the union EQUALS the
    // exact pair set and the whole pipeline hash-matches the DuckDB CTE
    // chain with a quadratic semantic stage — same `approx ∪ exact ==
    // exact` contract as x_semantic_dedup_precision, composed through
    // the full pipeline.
    "x_pipeline_corpus_v3_precision" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus_v3_precision")(
        pipelineCorpusV3(s, dir, semanticExactUnion = true))),

    // capstone v4 — the r11 stages composed: PII scrub → Gopher →
    // span-level decontamination (docs kept, spans cut) → textual
    // cluster dedup → temperature mixing → token-budget curation →
    // context-window chunking; fully hash-matched (no precision twin
    // needed — every stage is exactly SQL-expressible)
    "x_pipeline_corpus_v4" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus_v4")(pipelineCorpusV4(s, dir))),

    // capstone v5 — the curriculum pipeline, composing the r11-late
    // ops: PII scrub → Gopher → span decontamination → near-dup
    // clusters deduped to their QUALITY-chosen representative (not
    // min-id) → global curriculum rank over the survivors → top-N cut
    // → context-window chunking with the rank carried per chunk.
    // Every stage exactly SQL-expressible ⇒ hash-matched end to end.
    "x_pipeline_corpus_v5" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus_v5")(pipelineCorpusV5(s, dir))),

    // capstone v6 — the CRAWL pipeline: real .warc.gz response records
    // → HTML→text extraction → TRAINED quality gate (fit on the crawl
    // itself) → near-dup cluster dedup → chunking with the fitted
    // score carried. The round's WARC ingest and trained classifier
    // composed end to end; fully hash-matched (the oracle replays the
    // K training steps as CTEs over the same extracted text)
    "x_pipeline_corpus_v6" -> ((s, dir) =>
      Pins.scopedCheckpoint("x_pipeline_corpus_v6")(pipelineCorpusV6(s, dir))),

    // tokenizer-training stats: the unigram vocabulary and the adjacent
    // BPE pre-token pair counts (the merge-candidate table) — wordcount
    // shuffles + per-partition top-k, never a global sort
    "x_vocab_top_tokens" -> ((s, dir) =>
      graft.ops.Vocab.topTokens(Tables.documents(s, dir), col("text"), 500)),

    "x_bpe_merge_pairs" -> ((s, dir) =>
      graft.ops.Vocab.topBpePairs(Tables.documents(s, dir), col("text"), 500)),

    // the BPE trainer loop itself: 4 greedy merge rounds (count pairs →
    // take the top pair → rewrite the stream → repeat), oracled against
    // the identical 4 rounds unrolled as DuckDB CTEs
    "x_bpe_merges_k" -> ((s, dir) =>
      graft.ops.Vocab.bpeMergeRounds(Tables.documents(s, dir), col("text"), BpeMergeRounds)),

    // CCNet-style perplexity filter signal: per-doc average unigram
    // log-prob under the corpus-trained add-one model + derived ppl
    "x_unigram_logprob" -> ((s, dir) =>
      graft.ops.Vocab.unigramLogProb(Tables.documents(s, dir), "doc_id", col("text"))),

    // the tokenizer APPLY side: train 4 merges on the corpus (the
    // x_bpe_merges_k loop), then encode every doc with them — the
    // oracle re-derives the same merges as unrolled CTEs and re-applies
    // them, so trainer AND encoder are hash-checked end to end
    "x_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.ops.Vocab.bpeMergeRounds(docs, col("text"), BpeMergeRounds)
        .orderBy(col("merge_rank")).select(col("pair"))
        .collect().map(_.getString(0)).toSeq
      graft.ops.Vocab.bpeEncode(docs, "doc_id", col("text"), merges)
    }),

    // the OTHER production tokenizer family: the unigram-LM
    // (SentencePiece-style) trainer — seed substring vocab → hard-EM
    // rounds (quantized piece log-probs → Viterbi DP per word →
    // emission counts) → prune — as a driver loop of aggregations over
    // the vocabulary-sized word table, oracled against the identical
    // rounds unrolled as DuckDB CTEs (the x_bpe_merges_k convention).
    // Train-once lifecycle: the fitted vocab + final segmentation
    // persist as parquet artifacts (the LSH/PQ-codes convention), so
    // the encode query reads the model instead of re-running EM.
    "x_unigram_tokenizer" -> ((s, dir) => unigramArtifact(s, dir)._1),

    // the unigram tokenizer's APPLY side: per-doc piece counts under
    // the trained vocabulary (over-long words fall back to chars) —
    // encode is a word-keyed equi-join against the trainer's own final
    // segmentation artifact, never a re-segmentation of the corpus
    "x_unigram_encode" -> ((s, dir) =>
      graft.ops.UnigramLm.encodeTokenCounts(Tables.documents(s, dir), "doc_id", col("text"),
        UnigramCfg, emissions = Some(unigramArtifact(s, dir)._2))),

    // conditional-LM perplexity signal: per-doc average add-one bigram
    // log-prob under the corpus-trained model (the order-2 upgrade of
    // x_unigram_logprob)
    "x_bigram_logprob" -> ((s, dir) =>
      graft.ops.Vocab.bigramLogProb(Tables.documents(s, dir), "doc_id", col("text"))),

    // Kneser-Ney interpolated bigram perplexity: the smoothing the real
    // KenLM filters use — absolute discount + continuation-probability
    // backoff, a proper conditional LM (per-context kernel sums to 1)
    "x_kn_bigram_logprob" -> ((s, dir) =>
      graft.ops.Vocab.knBigramLogProb(Tables.documents(s, dir), "doc_id", col("text"))),

    // CCNet head/middle/tail: per-language perplexity terciles under
    // the corpus-trained unigram LM — the published keep-the-fluent-
    // third filter; the tiling windows only the skinny (doc, lang,
    // ppl) projection
    "x_perplexity_buckets" -> ((s, dir) =>
      graft.ops.Vocab.perplexityBuckets(
        Tables.documents(s, dir), "doc_id", col("text"), col("lang"))),

    // topical keyword extraction: top-3 TF-IDF terms per doc
    "x_tfidf_top_terms" -> ((s, dir) =>
      graft.ops.Vocab.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", col("text"), 3)),

    // Gopher-rules quality gate: per-rule booleans + the overall pass,
    // one narrow expression per doc
    "x_gopher_filter" -> ((s, dir) => {
      val ruleCols = TA.gopherRules(col("text")).map { case (name, c) => c.as(name) }
      Tables.documents(s, dir).select(
        col("doc_id") +: ruleCols :+ TA.gopherPass(col("text")).as("passes"): _*)
    }),

    // C4 cleaning rules (Raffel et al. 2020 §2.2): the corpus text is
    // single-line word soup, so (like x_line_dedup) the query first
    // structures it deterministically in BOTH engines — 10-token lines
    // with every third left unterminated, plus doc-seeded boilerplate
    // exercising each page rule — then the line filter (terminal
    // punctuation + ≥5 words + no javascript) and the page gate
    // (≥3 kept lines, no lorem ipsum, no curly brace) run as pure
    // narrow HOFs
    "x_c4_filter" -> ((s, dir) => {
      val t = split(lower(trim(col("text"))), "\\s+")
      val lineIdx = sequence(lit(0), floor((size(t) - lit(1)) / lit(10)).cast("int"))
      val baseLines = transform(lineIdx, i =>
        concat(concat_ws(" ", slice(t, i * 10 + 1, lit(10))),
          when(pmod(col("doc_id") + i, lit(3)) =!= 0, lit(".")).otherwise(lit(""))))
      def saltLine(m: Int, line: String) =
        when(pmod(col("doc_id"), lit(m)) === 0, array(lit(line)))
          .otherwise(array().cast("array<string>"))
      val lines = concat(baseLines,
        saltLine(7, "please enable javascript to view this page."),
        saltLine(97, "lorem ipsum dolor sit amet sample filler."),
        saltLine(89, "window.config = { theme: dark }"))
      val kept = TA.c4KeepLines(lines)
      Tables.documents(s, dir).select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_lines_kept"),
        TA.c4PagePass(lines, kept).as("passes"),
        concat_ws("\n", kept).as("cleaned"))
    }),

    // in-text PII scrubbing (emails/phones/cards/IPs → type tags) — the
    // corpus has no natural PII, so the text is salted with
    // doc_id-derived PII identically in both engines; the oracle then
    // checks the regex chain match-for-match
    "x_pii_scrub" -> ((s, dir) => {
      val salted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567, card 4111 1111 1111 1111, host 10.0.0."),
        pmod(col("doc_id"), lit(254)).cast("string"))
      Tables.documents(s, dir).select(col("doc_id"),
        TA.piiHits(salted).as("n_pii"), TA.scrubPii(salted).as("scrubbed"))
    }),

    // HTML→text extraction (the web-corpus ingest step): the corpus is
    // plain prose, so each doc is wrapped in deterministic markup —
    // title, style + script blocks, a comment, entities, a tag spanning
    // a line break — identically in both engines; the oracle then
    // checks title extract, link count and the full strip chain
    "x_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" &amp; friends</title><style>p { color: #fff; }</style>"),
        lit("<script>if (1 &lt; 2) { x(); }</script></head><body><!-- id "),
        col("doc_id").cast("string"),
        lit(" --><p>"), replace(col("text"), lit(" and "), lit(" &amp; ")),
        lit("</p><a href=\"#ref\">see</a> <a\nhref=\"#2\">also</a>&nbsp;&quot;end&quot;</body></html>"))
      Tables.documents(s, dir).select(col("doc_id"),
        TA.htmlTitle(html).as("title"),
        TA.htmlLinkCount(html).as("n_links"),
        TA.stripHtml(html).as("clean_text"))
    }),

    // WARC crawl ingest (the container web crawls actually arrive in):
    // documents are serialized once as real gzip-member-per-record
    // `.warc.gz` response records under an identity-keyed path —
    // version line, envelope headers, full HTTP/1.1 message, CRLF
    // trailers — then re-read with the streaming per-file reader and
    // reduced to the crawl-side projection. The oracle rebuilds the
    // HTML body directly and checks URL, status, mime, byte length AND
    // an md5 over the exact body bytes — the roundtrip is byte-proven
    "x_warc_ingest" -> ((s, dir) => {
      val outDir = warcArtifact(s, dir)
      graft.ingest.Warc.responses(s, outDir).select(
        regexp_extract(col("url"), "/(\\d+)$", 1).cast("long").as("doc_id"),
        col("url"),
        col("http_status"),
        col("mime"),
        octet_length(col("body")).cast("long").as("n_body_bytes"),
        md5(col("body")).as("body_md5"),
        TA.htmlTitle(decode(col("body"), "UTF-8")).as("title"))
    }),

    // DoReMi-style domain-mixture reweighting (Xie et al. 2023): K
    // exponentiated-gradient rounds upweight the sources with the
    // highest excess per-token NLL under the corpus unigram LM — one
    // wordcount shuffle builds the LM + per-domain stats, the EG
    // rounds run on the tiny domain table in exact integer arithmetic
    // (weights in parts-per-1e9, the sigmoid-quantum exp discipline),
    // so round-K weights hash-match the oracle's unrolled CTEs
    "x_doremi_weights" -> ((s, dir) =>
      graft.ops.DomainReweight.doremiWeights(
        Tables.documents(s, dir), col("source"), col("text"))),

    // the weights applied: per-domain keep rate ∝ target/current token
    // share (max rate normalized to 1 — pure downsampling), per-mille
    // hash verdict per row. BigInt driver ratios mirrored by the
    // oracle's HUGEINT; survivors hash-compare row-for-row
    "x_doremi_mix" -> ((s, dir) =>
      graft.ops.DomainReweight.doremiMix(
          Tables.documents(s, dir), col("doc_id"), col("source"), col("text"))
        .select(col("doc_id"), col("source"))),

    // link-graph harvest ranking: damped PageRank over the crawl's
    // follow-link graph (here a deterministic synthetic 3-out-regular
    // graph on the doc ids, built identically in the oracle — a real
    // deployment feeds the (src, dst) pairs x_html_extract's link
    // extraction yields). All-integer fixed-point power iteration:
    // 5 rounds, each one edges⨝ranks equi-join + one map-side-combined
    // groupBy — bit-exact across engines, K rounds unrolled as CTEs
    "x_pagerank" -> ((s, dir) => {
      val nodes = Tables.documents(s, dir).select(col("doc_id").as("id"))
      val n = nodes.count()
      val edges = nodes.select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 31 + col("k")) % lit(n)).as("dst"))
      graft.ops.LinkGraph.pageRank(nodes, edges, iters = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // JSONL corpus exchange: documents written once as JSONL (the LLM
    // corpus interchange format) under an identity-keyed path, reread
    // with the DECLARED schema (inference would be a second full pass
    // at 100 TB) — the oracle hash-checks the reread content against
    // the original parquet source, proving the roundtrip is lossless
    "x_jsonl_roundtrip" -> ((s, dir) => {
      val outDir = indexCachePath(s, dir, "documents.parquet", "jsonl,v1")
      if (!graft.store.ArtifactCache.isComplete(s, outDir))
        graft.ingest.Jsonl.write(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")), outDir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      graft.ingest.Jsonl.read(s, outDir, schema)
        .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens"))
    }),

    // ORC corpus exchange: same lossless-roundtrip proof as JSONL for
    // the other columnar interchange format warehouses hand over —
    // written once under an identity-keyed path, reread (ORC carries
    // its own schema; no inference pass), content hash-checked against
    // the parquet source
    "x_orc_roundtrip" -> ((s, dir) => {
      val outDir = indexCachePath(s, dir, "documents.parquet", "orc,v1")
      if (!graft.store.ArtifactCache.isComplete(s, outDir))
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
          .write.mode("overwrite").orc(outDir)
      s.read.orc(outDir)
        .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens"))
    }),

    // CSV corpus exchange: the flat-file hand-off format — written
    // quoted+escaped once, reread with the DECLARED schema and strict
    // FAILFAST mode (a malformed row must fail the job, not silently
    // null out at 100 TB), content hash-checked against the source
    "x_csv_roundtrip" -> ((s, dir) => {
      val outDir = indexCachePath(s, dir, "documents.parquet", "csv,v1")
      if (!graft.store.ArtifactCache.isComplete(s, outDir))
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
          .write.mode("overwrite").option("header", "true")
          .option("quoteAll", "true").option("escape", "\"").csv(outDir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).option("header", "true")
        .option("escape", "\"").option("mode", "FAILFAST").csv(outDir)
        .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens"))
    }),

    // C4/CCNet-style line-level boilerplate removal: the corpus text is
    // single-line word soup, so (like x_pii_scrub salts PII) the query
    // first structures it deterministically in BOTH engines — 10-token
    // lines plus an injected boilerplate header/footer every doc shares
    // — then every line with document frequency >= 5 is cut from all
    // its docs and each doc is rebuilt in line order
    "x_line_dedup" -> ((s, dir) => {
      val t = split(lower(trim(col("text"))), "\\s+")
      val lineArr = transform(sequence(lit(0), size(t) - 1, lit(10)),
        i => concat_ws(" ", slice(t, i + 1, lit(10))))
      val lined = concat_ws("\n", concat(
        array(lit("subscribe to our newsletter today")),
        lineArr,
        array(lit("click here to unsubscribe"))))
      Dedup.lineDedup(
          Tables.documents(s, dir).select(col("doc_id"), lined.as("text")),
          "doc_id", col("text"), LineDedupMinDf)
        .withColumnRenamed("doc", "doc_id")
    }),

    // compressibility signal (native graft_deflate_ratio expression):
    // deflated/raw bytes — low ratio = low-entropy boilerplate the
    // n-gram counts can miss. No DuckDB oracle (no zlib there);
    // OpsSpec pins parity with a driver-side reference deflate, and
    // the x_compression_bound twin below hash-oracles a per-row
    // invariant of the same expression.
    "x_compression_ratio" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        call_function("graft_deflate_ratio", col("text")).as("deflate_ratio"))),

    // containment oracle for the deflate family (r16 verdict #6):
    // DuckDB has no zlib, but DEFLATE guarantees compressed_len in
    // (0, raw + 5·ceil(raw/16383) + 11] (stored-block framing + zlib
    // header/adler, with block-size slack) — so the per-doc verdict
    // "real deflate output within its format bound" is cross-engine
    // checkable: DuckDB emits the same rows with the bound as literal
    // TRUE, and any deflate regression (wrong length, broken native
    // expression) hash-mismatches on every affected row
    "x_compression_bound" -> ((s, dir) => {
      val raw = octet_length(col("text")).cast("double")
      val ratio = call_function("graft_deflate_ratio", col("text"))
      val ub = (raw + lit(5.0) * ceil(raw / lit(16383.0)) + lit(11.0)) / raw
      // NULL text must mirror the oracle's vacuous TRUE (the DuckDB
      // side emits literal TRUE for every row) — without the coalesce
      // a null row yields null bound_ok and a spurious cross-engine
      // mismatch instead of a real deflate finding (ADVICE r16)
      Tables.documents(s, dir).select(col("doc_id"),
        octet_length(col("text")).cast("long").as("raw_len"),
        coalesce(when(raw === 0, lit(true)).otherwise(ratio > 0 && ratio <= ub),
          lit(true)).as("bound_ok"))
    }),

    // fasttext-style logistic quality score: features → linear form →
    // sigmoid, all codegen'd narrow expressions (fixed interpretable
    // weights; a deployment swaps in trained ones)
    "x_quality_logit" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TA.qualityLogit(col("text")).as("logit_score"))),

    // TRAINED logistic quality classifier: K full-batch gradient steps
    // (each one aggregation job summing exact longs) against the
    // Gopher-gate labels on an id-sliced sample, then every doc scored
    // with the fitted weights baked in as literals. The oracle unrolls
    // the same K steps as CTEs — weights AND scores hash-compare, so a
    // one-quantum training divergence fails on every row
    "x_quality_logit_trained" -> ((s, dir) =>
      graft.ops.QualityModel.trainedScore(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          cacheKey = Some(graft.store.ArtifactCache
            .sourceIdentity(s, s"$dir/documents.parquet") + "|qlt"))
        .withColumnRenamed("__id", "doc_id")),

    // Gopher §A1.1's dominant-phrase signals: fraction of characters
    // in the MOST frequent 2/3/4-gram — pure narrow HOF metrics, the
    // single-phrase complement of x_repetition_ratio's all-repeats form
    "x_top_ngram_char_frac" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TA.topNgramCharFraction(col("text"), 2).as("top2_frac"),
        TA.topNgramCharFraction(col("text"), 3).as("top3_frac"),
        TA.topNgramCharFraction(col("text"), 4).as("top4_frac"))),

    // Gopher §A1.1's duplicate-line signals as per-doc metrics: the
    // occurrence and character-weighted duplicate-line fractions, pure
    // narrow HOF expressions (no corpus join — the cross-doc complement
    // is x_line_dedup). Same boilerplate-at-head-and-tail structuring
    // as the within-doc dedup query, so every doc carries ≥1 dup line.
    "x_dup_line_metrics" -> ((s, dir) => {
      val t = split(lower(trim(col("text"))), "\\s+")
      val lineArr = transform(sequence(lit(0), size(t) - 1, lit(10)),
        i => concat_ws(" ", slice(t, i + 1, lit(10))))
      val boiler = lit("subscribe to our newsletter today")
      val lined = concat_ws("\n", concat(array(boiler), lineArr, array(boiler)))
      Tables.documents(s, dir).select(col("doc_id"),
        size(split(lined, "\n")).cast("long").as("n_lines"),
        TA.dupLineFraction(lined).as("dup_line_frac"),
        TA.dupLineCharFraction(lined).as("dup_char_frac"))
    }),

    // C4's within-page rule: repeats of a line INSIDE one doc are cut,
    // first occurrence kept — exercised by structuring the text with
    // the same boilerplate line at head AND tail (the footer copy must
    // drop in every doc)
    "x_line_dedup_within" -> ((s, dir) => {
      val t = split(lower(trim(col("text"))), "\\s+")
      val lineArr = transform(sequence(lit(0), size(t) - 1, lit(10)),
        i => concat_ws(" ", slice(t, i + 1, lit(10))))
      val boiler = lit("subscribe to our newsletter today")
      val lined = concat_ws("\n", concat(array(boiler), lineArr, array(boiler)))
      Dedup.lineDedupWithinDoc(
          Tables.documents(s, dir).select(col("doc_id"), lined.as("text")),
          "doc_id", col("text"))
        .withColumnRenamed("doc", "doc_id")
    }),

    // context-window chunking: 64-token windows every 48 tokens
    // (overlapping, so no span is seen only at a window edge) — the
    // doc→training-example split that precedes packing; pure narrow
    // explode, hash-matched against the identical DuckDB grid
    "x_chunk_documents" -> ((s, dir) =>
      Sampling.chunkTokens(Tables.documents(s, dir), col("doc_id"), col("text"),
        ChunkWindow, ChunkStride)),

    // GPT-style sequence packing: hash-shard, concatenate in hash
    // order, cut into 2048-token windows — per doc its shard, start
    // offset and first/last window. One shard shuffle + parallel
    // per-shard windows; deliberately no global cumsum.
    "x_sequence_pack" -> ((s, dir) =>
      Sampling.packSequences(Tables.documents(s, dir), col("doc_id"),
          TA.tokenCount(col("text")), shards = 8, budget = 2048)
        .withColumnRenamed("pack_id", "doc_id")),

    // mixture rebalancing: sample per-language so the OUTPUT composition
    // hits 70/30 en/und (the two langs this corpus actually contains —
    // a target stratum with no rows fails loudly) while keeping the max
    // data; rates derive from the measured counts, the only driver
    // materialization being the ≤|shares|-row stratum list
    "x_corpus_mixture" -> ((s, dir) => {
      // r20: the mixture operators scan their input twice (stratum
      // counts, then the per-row verdict); pin the SKINNY
      // (doc_id, lang_guess) projection once so the langId regex pass
      // over the text runs once, not twice — the §8 proxy move
      val docs = Pins.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"), TA.langId(col("text")).as("lang_guess")), "x_corpus_mixture.docs")
      Sampling.mixtureSample(docs, col("doc_id"), col("lang_guess"),
          Map("en" -> 0.7, "und" -> 0.3))
        .select(col("doc_id"), col("lang_guess"))
    }),

    // epoch-expansion mixing: hit a 50/50 en/und target while holding
    // the corpus mass — the minority stratum REPEATS (multi-epoch
    // upsampling, the GPT-3/Llama weighted-mix recipe) while the
    // dominant one downsamples; output is the (doc, copy) manifest a
    // training loader consumes
    "x_epoch_mixture" -> ((s, dir) => {
      // r20: skinny pin — see x_corpus_mixture
      val docs = Pins.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"), TA.langId(col("text")).as("lang_guess")), "x_epoch_mixture.docs")
      Sampling.epochMixture(docs, col("doc_id"), col("lang_guess"),
          Map("en" -> 0.5, "und" -> 0.5))
        .select(col("doc_id"), col("stratum"), col("copy_idx"))
    }),

    // the same epoch expansion targeted in TOKEN mass — what a
    // training mix actually specifies: each stratum's repeat factor
    // derives from its token share, not its doc share
    "x_epoch_mixture_tokens" -> ((s, dir) => {
      // r20: skinny pin (langId + tokenCount evaluated once) — see
      // x_corpus_mixture
      val docs = Pins.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"), TA.langId(col("text")).as("lang_guess"),
          TA.tokenCount(col("text")).as("__w")), "x_epoch_mixture_tokens.docs")
      Sampling.epochMixture(docs, col("doc_id"), col("lang_guess"),
          Map("en" -> 0.5, "und" -> 0.5), weight = col("__w"))
        .select(col("doc_id"), col("stratum"), col("copy_idx"))
    }),

    // temperature-weighted mixing: output composition ∝ count^0.5 —
    // the α-smoothing knob between the natural mix (α=1) and uniform
    // strata (α→0); smallest stratum kept whole, larger ones
    // downsampled by (c_min/c)^(1-α)
    "x_temperature_mixture" -> ((s, dir) => {
      // r20: skinny pin — see x_corpus_mixture
      val docs = Pins.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"), TA.langId(col("text")).as("lang_guess")),
        "x_temperature_mixture.docs")
      Sampling.temperatureMixture(docs, col("doc_id"), col("lang_guess"), alpha = 0.5)
        .select(col("doc_id"), col("lang_guess"))
    }),

    // token-budget curation: fill a 6000-token budget best-quality-
    // first — whole per-mille quality buckets while they fit, the
    // boundary bucket cut by a deterministic hash rate, lower buckets
    // dropped; the corpus-side verdict is a stateless narrow filter
    "x_budget_select" -> ((s, dir) => {
      // r20: budgetSelect scans its input twice (bucket stats + verdict
      // join); pin the skinny (id, score, tokens) projection so the
      // quality/token expressions over text evaluate once
      val base = Pins.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"), TA.qualityScore(col("text")).as("__q"),
          TA.tokenCount(col("text")).as("__n")), "x_budget_select.base")
      Sampling.budgetSelect(base, col("doc_id"), col("__q"), col("__n"),
        BudgetSelectTokens)
    }),

    // UniMax language sampling (Chung et al., ICLR 2023): waterfill a
    // 90%-of-corpus token budget uniformly over the declared languages
    // with a 1-epoch repeat cap — low-resource langs take their full
    // epoch, the head language absorbs the remainder at <1 epoch; one
    // skinny count shuffle, the waterfill windows a strata-sized table
    "x_unimax_alloc" -> ((s, dir) =>
      Sampling.uniMaxAllocation(Tables.documents(s, dir), col("lang"),
        TA.tokenCount(col("text")), UniMaxBudgetFrac, UniMaxEpochCap)),

    // the allocation APPLIED: the (doc_id, stratum, copy_idx) manifest
    // a training loader consumes — capped languages repeat their full
    // epochs, the head language's fractional epoch samples docs by the
    // deterministic per-mille hash; broadcast rates + bounded narrow
    // explode, the corpus never shuffles
    "x_unimax_manifest" -> ((s, dir) =>
      Sampling.uniMaxManifest(Tables.documents(s, dir), col("doc_id"), col("lang"),
        TA.tokenCount(col("text")), UniMaxBudgetFrac, UniMaxEpochCap)),

    // DSIR importance weights (Xie et al., NeurIPS 2023): hashed
    // unigram+bigram bag, add-one-smoothed target(en)/raw log-ratio,
    // floor-quantized to millionths so the per-doc weight is an exact
    // long sum; fit = two skinny bucket aggregations, scoring = pure
    // narrow HOF over the broadcast 4096-long model — zero corpus
    // shuffle
    // r20: one-pass subset-target path — the corpus is md5-hashed into
    // feature buckets ONCE (skinny pinned arrays), not once for the fit
    // and again for the scoring; values identical (same oracle)
    "x_dsir_weights" -> ((s, dir) =>
      Selection.dsirWeightsSubset(Tables.documents(s, dir), "doc_id",
        col("text"), col("lang") === "en", DsirBuckets)),

    // DSIR selection: Gumbel top-k over the importance weights —
    // sampling without replacement proportional to the weight, with
    // the Gumbel draw deterministic from the doc-id md5; distributed
    // TakeOrdered, not a global sort
    "x_dsir_select" -> ((s, dir) =>
      Selection.dsirSelectSubset(Tables.documents(s, dir), "doc_id",
        col("text"), col("lang") === "en", DsirSelectK, DsirBuckets)
        .select(col("doc_id"), col("dsir_wq"), col("gumbel_score"))),

    // corpus snapshot diff: the output-regression check between two
    // pipeline runs — fingerprint-compare under the shared id, report
    // added/removed/changed (the "next" snapshot is derived
    // deterministically: every 10th doc dropped, every 7th rewritten,
    // every 13th re-added under a shifted id)
    "x_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val next = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")).as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + lit(1000000)).as("doc_id"), col("text")))
      Dedup.corpusDiff(docs, next, "doc_id", col("text"))
        .filter(col("status") =!= "unchanged")
    }),

    // per-language top-5 by quality (tie-broken by doc_id): the
    // curation selection — one window over a lang-keyed shuffle
    "x_top_quality_per_lang" -> ((s, dir) =>
      Sampling.topKPerStratum(
        Tables.documents(s, dir)
          .select(col("doc_id"), TA.langId(col("text")).as("lang_guess"),
            TA.qualityScore(col("text")).as("quality")),
        col("lang_guess"), col("quality"), col("doc_id"), 5)),

    // global curriculum rank: every doc's 1-based ordinal under
    // (quality desc, doc_id) — range-partition + narrow per-partition
    // local index + a ≤P-row broadcast offset table, never the
    // single-partition window the textbook row_number would plan
    "x_curriculum_rank" -> ((s, dir) =>
      // r20: pin the skinny (id, quality) projection — globalRank's
      // range sampler executes its input once for bounds and the
      // shuffle executes it again; unpinned, the quality regex ran 2×
      Sampling.globalRank(
        Pins.checkpoint(Tables.documents(s, dir)
          .select(col("doc_id"), TA.qualityScore(col("text")).as("quality")),
          "x_curriculum_rank.docs"),
        Seq(col("quality").desc, col("doc_id").asc))
        .select(col("doc_id"), col("rank"))),

    // BM25 top-20 retrieval for a fixed query-term set — benchmark-
    // similar document mining; per-term doubles in mirrored op order,
    // per-doc sums in decimal, top-k via TakeOrdered (never global sort)
    "x_bm25_topk" -> ((s, dir) =>
      graft.ops.Vocab.bm25TopK(Tables.documents(s, dir), "doc_id", col("text"),
        Bm25QueryTerms, 20)),

    // near-dup clusters with QUALITY-chosen representatives (argmax
    // score, ties to the lower id) — the curation-grade upgrade of
    // x_near_dup_clusters' arbitrary min-id canonical. Consumes the
    // shared pay-once pair artifact (r17): the pair set here is an
    // INPUT — the operator under test is the representative choice,
    // and recomputing the full PPJoin made this the most expensive
    // non-capstone query in the r16 sweep (3.67 s)
    "x_cluster_best_rep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterRepresentatives(corpusExactPairs(s, dir),
        docs.select(col("doc_id"), TA.qualityScore(col("text")).as("q")),
        "doc_id", "q")
    }),

    // BM25 against the PERSISTED inverted-postings artifact — identical
    // result (and oracle) to x_bm25_topk, but the steady-state path:
    // corpus tokenized once at ingest; the query reads only its terms'
    // postings rows (IN filter pushed to the parquet scan) + doc lengths
    "x_bm25_topk_indexed" -> ((s, dir) => {
      val idxDir = indexCachePath(s, dir, "documents.parquet", "bm25,v1")
      // guard on BOTH commit markers: a crash between the two writes
      // must trigger a rebuild, not serve a half-built index
      if (!graft.store.ArtifactCache.isComplete(s, s"$idxDir/postings") ||
          !graft.store.ArtifactCache.isComplete(s, s"$idxDir/doclens")) {
        val (postings, doclens) = graft.ops.Vocab.buildBm25Index(
          Tables.documents(s, dir), "doc_id", col("text"))
        doclens.write.mode("overwrite").parquet(s"$idxDir/doclens")
        postings.write.mode("overwrite").parquet(s"$idxDir/postings")
      }
      graft.ops.Vocab.bm25TopKIndexed(
        s.read.parquet(s"$idxDir/postings"), s.read.parquet(s"$idxDir/doclens"),
        "doc_id", Bm25QueryTerms, 20)
    }),

    // chunk→document embedding aggregation: mean-pool vectors per
    // label group, long form (one row per dimension) — decimal-summed
    // per dimension so the mean is partitioning- and engine-stable
    "x_embed_mean_pool" -> ((s, dir) =>
      Similarity.meanPool(Tables.embeddings(s, dir), "label", "embedding")),

    // multimodal plumbing: binary column → batched stub decode
    "x_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.packText(Tables.documents(s, dir), col("doc_id"), col("text"), "text/plain")
      Multimodal.decodeFeatures(media)
        .select(col("media_id"), col("n_bytes"), col("checksum"), col("width"), col("height"))
    }),

    // multimodal binary→binary shape: batched stub resize — the oracle
    // checks the plumbing (row per media, declared dims, stub's output
    // length max(1, w·h/64)); byte content determinism is spec-checked
    // (DuckDB has no blob slicing to mirror it)
    "x_resize" -> ((s, dir) => {
      val media = Multimodal.packText(Tables.documents(s, dir), col("doc_id"), col("text"), "text/plain")
      Multimodal.resize(media, 32, 32)
        .select(col("media_id"), col("width"), col("height"),
          octet_length(col("media")).cast("long").as("n_resized_bytes"))
    }),

    // multimodal one-to-many shape: every 2nd fixed-width frame window
    // per media payload (oracle checks frame indices + sizes, the
    // engine-portable part of the stub demuxer)
    "x_frame_sample" -> ((s, dir) => {
      val media = Multimodal.packText(Tables.documents(s, dir), col("doc_id"), col("text"), "text/plain")
      Multimodal.frameSample(media, everyNth = 2)
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("n_frame_bytes"))
    }),

    // REAL image decode (no stub): each doc packed as a genuine binary
    // Netpbm P5 whose raster is the text bytes, decoded by the
    // pure-JVM NetpbmWavCodec — dims, exact mean luminance (long-sum /
    // count, correctly-rounded double divide) and the 32-wide
    // luminance histogram, all mirrored off the text bytes in DuckDB
    "x_media_pnm_decode" -> ((s, dir) => {
      val media = Multimodal.packPnm(Tables.documents(s, dir), col("doc_id"), col("text"))
      Multimodal.decodeFeatures(media, codec = () => new graft.ops.NetpbmWavCodec())
        .select(Seq(col("media_id"), col("width"), col("height"),
          element_at(col("feature"), 1).as("mean_lum")) ++
          (2 to 9).map(i =>
            element_at(col("feature"), i).cast("long").as(s"h${i - 2}")): _*)
    }),

    // REAL image resize: nearest-neighbor P5 resample to 16×1 through
    // the codec, then re-decoded — the oracle replays the exact integer
    // index map floor(x·w/16) on the text bytes
    "x_media_pnm_resize" -> ((s, dir) => {
      val media = Multimodal.packPnm(Tables.documents(s, dir), col("doc_id"), col("text"))
      val codec: () => graft.ops.MediaCodec = () => new graft.ops.NetpbmWavCodec()
      Multimodal.decodeFeatures(
          Multimodal.resize(media, 16, 1, codec = codec), codec = codec)
        .select(col("media_id"), col("width"), col("height"),
          element_at(col("feature"), 1).as("mean_lum"))
    }),

    // REAL audio decode: a genuine PCM-16 RIFF/WAVE per doc (samples
    // (byte−96)·256), parsed by the codec's actual chunk walker —
    // sample count, channel count, exact means and the zero-crossing
    // count, mirrored sample-for-sample in DuckDB
    "x_media_wav_features" -> ((s, dir) => {
      val media = Multimodal.packWav(Tables.documents(s, dir), col("doc_id"), col("text"))
      Multimodal.decodeFeatures(media, codec = () => new graft.ops.NetpbmWavCodec())
        .select(col("media_id"), col("width"), col("height"),
          element_at(col("feature"), 1).as("mean_sample"),
          element_at(col("feature"), 2).as("mean_abs"),
          element_at(col("feature"), 3).cast("long").as("zero_crossings"),
          element_at(col("feature"), 4).cast("long").as("sample_rate"))
    }),

    // image perceptual hash (aHash): 8×8 nearest-neighbor grid over
    // the codec's REAL decoded luminance plane, mean-thresholded —
    // all-integer so the 64-bit fingerprint is bit-reproducible; the
    // oracle replays the identical grid arithmetic off the text bytes
    // the P5 raster packs
    "x_media_phash" -> ((s, dir) => {
      val media = Multimodal.packPnm(Tables.documents(s, dir), col("doc_id"), col("text"))
      Multimodal.perceptualHash(media, codec = () => new graft.ops.NetpbmWavCodec())
    }),

    // image near-dup dedup: the phash banded into four 16-bit keys,
    // bucket-join + exact Hamming verify — exhaustive for distance ≤ 3
    // by pigeonhole, so the banded plan hash-matches the oracle's
    // all-pairs join while never cross-joining the corpus
    "x_media_phash_dedup" -> ((s, dir) => {
      val media = Multimodal.packPnm(Tables.documents(s, dir), col("doc_id"), col("text"))
      Multimodal.phashPairs(
        Multimodal.perceptualHash(media, codec = () => new graft.ops.NetpbmWavCodec()),
        maxDistance = 3)
    }),

    // acoustic fingerprint over REAL RIFF payloads: raw PCM via the
    // codec's new samples path, 64 contiguous energy frames, bit =
    // frame energy over global mean — all-integer, hash-oracled
    "x_media_audio_fp" -> ((s, dir) => {
      val media = Multimodal.packWav(Tables.documents(s, dir), col("doc_id"), col("text"))
      Multimodal.audioFingerprint(media, codec = () => new graft.ops.NetpbmWavCodec())
    }),

    // audio dup detection: the SAME hash-agnostic 4-band Hamming
    // machinery as the image path, applied to the acoustic
    // fingerprint. Re-uploaded copies are planted deterministically
    // (every doc_id%10 doc cloned at id+1e6 — built identically in
    // the oracle, like x_line_dedup's boilerplate): identical payloads
    // fingerprint to Hamming 0, while the corpus's mere TEXT near-dups
    // sit at ≥11 (a one-word shift moves every energy-frame boundary),
    // so the ≤3 gate catches exactly the true copies
    "x_media_audio_fp_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val clones = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      val media = Multimodal.packWav(docs.unionByName(clones), col("doc_id"), col("text"))
      Multimodal.phashPairs(
        Multimodal.audioFingerprint(media, codec = () => new graft.ops.NetpbmWavCodec()),
        maxDistance = 3)
    }),

    // incremental image admission: the batch's Hamming-≤3 pairs
    // against the PERSISTED banded phash index (written once, probed
    // map-side each increment — the O(batch) admission contract,
    // pixels edition). Exhaustive banding ⇒ EXACT oracle: all pairs
    // touching the batch, computed all-pairs in DuckDB
    "x_incremental_phash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBatch = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
      val mk: () => graft.ops.MediaCodec = () => new graft.ops.NetpbmWavCodec()
      val idxDir = indexCachePath(s, dir, "documents.parquet", "phash,bands=4,v1")
      if (!graft.store.ArtifactCache.isComplete(s, idxDir))
        Multimodal.buildPhashIndex(
            Multimodal.perceptualHash(
              Multimodal.packPnm(docs.filter(!isBatch(col("doc_id"))),
                col("doc_id"), col("text")), codec = mk))
          .write.mode("overwrite").parquet(idxDir)
      Multimodal.incrementalPhashPairs(
        s.read.parquet(idxDir),
        Multimodal.perceptualHash(
          Multimodal.packPnm(docs.filter(isBatch(col("doc_id"))),
            col("doc_id"), col("text")), codec = mk),
        maxDistance = 3)
    }),

    // deterministic 90/5/5 held-out split: a pure hash of the doc id —
    // no state, no shuffle, consistent labels for shards that arrive
    // years apart
    "x_split_assign" -> ((s, dir) =>
      Splits.splitAssign(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("split"))),

    // leakage audit: near-dup pairs (exact n-gram Jaccard, the
    // x_ngram_jaccard operator) whose members landed in DIFFERENT
    // splits — each row is a train-test-overlap incident. The pair set
    // is [[corpusExactPairs]]' pay-once artifact, shared with
    // x_split_quarantine (r16 verdict #1: the two queries each ran the
    // full corpus-scale PPJoin on the same corpus — the identical pair
    // set, computed twice)
    "x_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Splits.crossSplitPairs(corpusExactPairs(s, dir),
          Splits.splitAssign(docs, col("doc_id")), "doc_id")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
          col("split_a"), col("split_b"))
    }),

    // quarantine list: the eval-side member of every cross-split
    // near-dup pair (train is never evicted), with its smallest
    // higher-priority counterpart as evidence — derived from the SAME
    // pay-once pair artifact as x_split_leakage
    "x_split_quarantine" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Splits.quarantine(corpusExactPairs(s, dir),
        Splits.splitAssign(docs, col("doc_id")), "doc_id")
    }),

    // RefinedWeb-style frequency cap: no source may exceed 3% of the
    // corpus; over-cap sources keep a deterministic uniform subsample
    "x_source_cap" -> ((s, dir) =>
      Sampling.capPerGroup(Tables.documents(s, dir), col("source"), col("doc_id"), SourceCapShare)
        .select(col("doc_id"), col("source"))),

    // URL canonicalization over a deterministically-derived messy URL
    // (testdata carries no URL column; the derivation exercises every
    // rule: case, www, default port, tracking params, fragment,
    // trailing slash)
    "x_url_normalize" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), syntheticUrl.as("url"))
        .select(col("doc_id"), col("url"), TA.normalizeUrl(col("url")).as("url_norm"))),

    // URL-keyed exact dedup (the first stage of a web-crawl pipeline):
    // normalized-URL groups with keeper id + multiplicity — same shape
    // as x_fingerprint_dedup but keyed on the canonical URL
    "x_url_dedup" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.normalizeUrl(syntheticUrl).as("url_norm"))
        .groupBy(col("url_norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))),

    // C4-style lexical blocklist gate: verdict per doc under a
    // config-supplied whole-word token list (Raffel et al. 2020 §2.2
    // cut pages containing any listed word) — one codegen'd regex
    // alternation, narrow, list shared verbatim with the oracle
    "x_keyword_filter" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TA.keywordHit(col("text"), KeywordBlockTokens).as("blocked"))),

    // UT1/RefinedWeb-style URL blocklisting: host-suffix + path-token
    // rules baked into a codegen'd expression — the crawl gate that
    // runs at scan speed before any text work. Verdict per doc, the
    // blocklists shared verbatim with the oracle
    "x_url_blocklist" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.normalizeUrl(syntheticUrl).as("url_norm"))
        .select(col("doc_id"), col("url_norm"),
          TA.urlBlocked(col("url_norm"), UrlBlockDomains, UrlBlockTokens).as("blocked"))),

    // incremental audio admission: a batch of re-uploaded copies
    // (every doc_id%10 doc arriving again at id+1e6) probed against
    // the PERSISTED banded acoustic-fingerprint index — the same
    // map-side O(batch) machinery as the image path, pixels→samples.
    // Exhaustive banding ⇒ EXACT oracle (all pairs touching the batch)
    "x_incremental_audio_fp" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mk: () => graft.ops.MediaCodec = () => new graft.ops.NetpbmWavCodec()
      val idxDir = indexCachePath(s, dir, "documents.parquet", "audiofp,bands=4,v1")
      if (!graft.store.ArtifactCache.isComplete(s, idxDir))
        Multimodal.buildPhashIndex(
            Multimodal.audioFingerprint(
              Multimodal.packWav(docs, col("doc_id"), col("text")), codec = mk))
          .write.mode("overwrite").parquet(idxDir)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Multimodal.incrementalPhashPairs(
        s.read.parquet(idxDir),
        Multimodal.audioFingerprint(
          Multimodal.packWav(batch, col("doc_id"), col("text")), codec = mk),
        maxDistance = 3)
    })
  )

  /** Blocklists for x_url_blocklist — shared verbatim with the oracle. */
  private val UrlBlockDomains = Seq("src1.example.com", "src7.example.com")
  private val UrlBlockTokens = Seq("ref=home")

  /** Word blocklist for x_keyword_filter (neutral stand-ins for a
    * deployment's list) — hits ~93% of sf0.01 docs, so both verdicts
    * exercise. Shared verbatim with the oracle.
    */
  private val KeywordBlockTokens = Seq("window", "batch")

  /** Max corpus share of any one source under x_source_cap. */
  val SourceCapShare = 0.03

  /** Deterministic messy URL for the x_url_* operators — built from
    * (source, doc_id) identically in Spark and the oracle so the
    * canonicalizer, not the fixture, is what's under test.
    */
  private def syntheticUrl: Column = concat(
    lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/p/"),
    (col("doc_id") % 10).cast("string"),
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed"),
    when(col("doc_id") % 4 === 0, lit("&ref=home")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("#sec")).otherwise(lit("")))

  private def syntheticUrlSql: String =
    "concat('HTTPS://WWW.', source, '.Example.COM:443/p/', " +
      "CAST(doc_id % 10 AS VARCHAR), " +
      "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, " +
      "'?utm_source=feed', " +
      "CASE WHEN doc_id % 4 = 0 THEN '&ref=home' ELSE '' END, " +
      "CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END)"

  /** Merge-round count of the `x_bpe_merges_k` trainer query — shared
    * by the Spark loop and the unrolled SQL mirror.
    */
  /** Capstone v2: the deduped prefix (see [[pipelineDeduped]]) then the
    * mixing and packing tail.
    */
  private[graft] def pipelineCorpusV2(s: SparkSession, dir: String): DataFrame =
    mixAndPack(pipelineDeduped(s, dir))

  /** Capstone v1: Gopher gate → fractional decontamination → textual
    * near-dup cluster dedup, then each survivor's token count.
    */
  private def pipelineCorpusV1(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    decontaminatedDedup(
        docs.filter(col("source") =!= "src0").filter(TA.gopherPass(col("text"))), docs)
      .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens"))
  }

  /** Shared v2/v3 prefix: PII scrub → Gopher gate → fractional
    * decontamination → textual near-dup cluster dedup. Returns the
    * textually deduped (doc_id, text) frame; its pins belong to the
    * caller's scope.
    */
  private def pipelineDeduped(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    decontaminatedDedup(docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), TA.scrubPii(col("text")).as("text"))
      .filter(TA.gopherPass(col("text"))), docs)
  }

  /** The capstones' common core over the `gated` docs: drop every doc
    * whose distinct 3-grams are ≥50% in the src0 benchmark of `docs`,
    * then the near-dup cluster dedup's non-representatives.
    */
  private def decontaminatedDedup(gated0: DataFrame, docs: DataFrame): DataFrame = {
    // the gated frame feeds three subtrees (gram counts, contamination
    // join, anti-join chain): see [[PipelineV2GatedReuse]]
    val gated = Pins.persist(gated0, "capstone.gated")
    val bench = docs.filter(col("source") === "src0")
    // fused n_hits+g (r20): the per-doc distinct-gram count rides the
    // contamination explode instead of a second gram subtree joined back
    val contaminated = Dedup.contaminationHitsWithSize(
        gated, "doc_id", col("text"), bench, col("text"), 3)
      .filter(col("n_hits").cast("double") / col("g").cast("double") >= 0.5)
      .select(col("doc").as("doc_id"))
    // r20: `clean` feeds BOTH the jaccard-pair build (pinned eagerly
    // inside it) and the final anti-join — unpersisted, the second
    // consumer replayed the whole contamination join; one
    // MEMORY_AND_DISK pin removes the replay
    val clean = Pins.persist(gated.join(contaminated, Seq("doc_id"), "left_anti"),
      "capstone.clean")
    val dropList = Dedup.clusterDropList(Dedup.nearDupClusters(
      Dedup.ngramJaccardPairs(clean, "doc_id", col("text"), 3, 0.8,
        eager = true)))
    clean.join(dropList, Seq("doc_id"), "left_anti")
  }

  /** The shared pipeline tail: stratified corpus mixing (en → 20%) then
    * sequence packing as the terminal stage.
    */
  private def mixAndPack(deduped: DataFrame): DataFrame = {
    val sampled = Sampling.stratifiedSample(
      deduped.withColumn("lang_guess", TA.langId(col("text"))),
      col("doc_id"), col("lang_guess"), Map("en" -> 0.2), defaultRate = 1.0)
    Sampling.packSequences(sampled, col("doc_id"), TA.tokenCount(col("text")),
        shards = 8, budget = 2048)
      .withColumnRenamed("pack_id", "doc_id")
  }

  /** Capstone v3: the v2 prefix, then the embedding-space SemDeDup
    * stage on the textual survivors, then the v2 tail.
    *
    * Scale shape of the inserted stage:
    *   - the embeddings table joins the (skinny) survivor id set on an
    *     equi-key — vectors cross one exchange, text never does;
    *   - the textually deduped frame is persisted (MEMORY_AND_DISK,
    *     lineage intact) because the SemDeDup operator drives several
    *     actions (corpus count for auto-k, the bounded training-sample
    *     collect, the cell-size probe, both sides of the block join) —
    *     without a materialization point each would recompute the
    *     decontamination join and cluster rounds;
    *   - docs without embeddings never enter the pair join and survive
    *     the stage — the semantic verdict only ever REMOVES a doc on
    *     positive evidence;
    *   - `sampleMod = 1`: the training sample is already bounded by
    *     maxTrainRows (ordered limit — per-partition top-k + driver
    *     merge, no global sort), and the pipeline's post-dedup survivor
    *     set at small SFs is too thin for the default 1-in-10 thinning
    *     to feed k=16 cells.
    */
  /** The textually-deduped survivor corpus as a PERSISTED ingest
    * artifact (parquet, keyed by source identity like the LSH/PQ-codes
    * caches): the v2 prefix (scrub → gate → decontaminate → cluster
    * dedup) runs once — the ingest lifecycle — and every later
    * semantic-stage run READS it instead of re-deduplicating the
    * corpus. Rows are identical to the live chain (the v3/v3p oracles
    * still hash the full CTE pipeline), only the physical provenance
    * changes; pass 1 of a bench pays the build, min-of-2 reports the
    * steady state — the same ingest-once convention as the index
    * queries, with per-pass arrays keeping pass 1 visible.
    */
  private def dedupedArtifact(s: SparkSession, dir: String): DataFrame = {
    // the tag folds in every knob the artifact's content depends on
    // (gated-reuse mode, jaccard n/threshold) so changing a constant
    // invalidates the cache instead of serving a stale survivor set
    val p = indexCachePath(s, dir, "documents.parquet",
      s"dedupedv2,reuse=$PipelineV2GatedReuse,n=3,j=0.8,v1")
    if (!graft.store.ArtifactCache.isComplete(s, p))
      Pins.scoped(pipelineDeduped(s, dir).write.mode("overwrite").parquet(p))
    s.read.parquet(p)
  }

  private[graft] def pipelineCorpusV3(
      s: SparkSession, dir: String, semanticExactUnion: Boolean): DataFrame = {
    val deduped = Pins.persist(dedupedArtifact(s, dir), "capstone.deduped")
    val docVecs = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .join(deduped.select(col("doc_id")), Seq("doc_id"))
    val sem = Similarity.semanticDedupPairs(docVecs, "doc_id", "embedding",
      SemanticDedupThreshold, sampleMod = 1)
    val semPairs =
      if (semanticExactUnion)
        sem.union(Similarity.cosineNearDupPairs(docVecs, "doc_id", "embedding",
            SemanticDedupThreshold, maxRows = ExactNearDupMaxRows))
          .dropDuplicates("id_a", "id_b")
      else sem
    val semDrop = Dedup.clusterDropList(Dedup.nearDupClusters(semPairs))
    mixAndPack(deduped.join(semDrop, Seq("doc_id"), "left_anti"))
  }

  /** Capstone v4 — the r11 pipeline: PII scrub → Gopher gate →
    * SPAN-level decontamination (the GPT-3 recipe: benchmark-overlap
    * spans excised, docs kept — v2/v3 dropped whole docs) → textual
    * near-dup cluster dedup on the de-spanned text → temperature
    * (count^0.5) mixing → token-budget curation → context-window
    * chunking as the terminal doc→training-example stage. Every stage
    * is exactly SQL-expressible, so unlike v3 the WHOLE pipeline
    * hash-matches its DuckDB CTE chain with no precision twin.
    *
    * The scrub→gate→decontaminate prefix reads the [[despArtifact]]
    * (pass 1 pays the build, shared with v5). Persist points: `desp`
    * feeds the jaccard pairs, the cluster anti-join, and the tail;
    * `mixed` feeds the budget stats agg and the curated join. Each is MEMORY_AND_DISK
    * with lineage intact — same fault-tolerance trade as v2 (see
    * [[PipelineV2GatedReuse]]).
    */
  /** The v4/v5 shared prefix (PII scrub → Gopher gate → span-level
    * decontamination scrub) as a PERSISTED ingest artifact, the same
    * lifecycle [[dedupedArtifact]] gives the v2/v3 prefix: built once
    * per source identity, reread by every v4/v5 run. Rows are identical
    * to the live chain (the v4/v5 oracles still hash the full CTE
    * pipeline — only physical provenance changes); measured 7.3 s →
    * 3.8 s (v4) and 6.5 s → 3.8 s (v5) at sf0.1 steady-state, and the
    * two capstones share ONE build.
    */
  private def despArtifact(s: SparkSession, dir: String): DataFrame = {
    val p = indexCachePath(s, dir, "documents.parquet", "despv4,n=3,v1")
    if (!graft.store.ArtifactCache.isComplete(s, p)) Pins.scoped {
      val docs = Tables.documents(s, dir)
      val scrubbed = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), TA.scrubPii(col("text")).as("text"))
      val gated = Pins.persist(scrubbed.filter(TA.gopherPass(col("text"))), "capstone.gated")
      val bench = docs.filter(col("source") === "src0")
      Dedup.decontaminationScrub(
          gated, "doc_id", col("text"), bench, col("text"), 3)
        .select(col("doc").as("doc_id"), col("scrubbed").as("text"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(p)
  }

  private[graft] def pipelineCorpusV4(s: SparkSession, dir: String): DataFrame = {
    val desp = Pins.persist(despArtifact(s, dir), "capstone.desp")
    val dropList = Dedup.clusterDropList(Dedup.nearDupClusters(
      Dedup.ngramJaccardPairs(desp, "doc_id", col("text"), 3, 0.8,
        eager = true)))
    // r20: pin the tagged frame — temperatureMixture scans its input
    // twice (stratum counts, then the verdict join), and unpinned each
    // scan replayed the anti-join AND the langId regex pass
    val tagged = Pins.persist(desp.join(dropList, Seq("doc_id"), "left_anti")
      .withColumn("lang_guess", TA.langId(col("text"))), "capstone.tagged")
    val mixed = Pins.persist(Sampling.temperatureMixture(
        tagged, col("doc_id"), col("lang_guess"), 0.5)
      .select(col("doc_id"), col("text")), "capstone.mixed")
    // r20: budgetSelect also scans ITS input twice — hand it the pinned
    // skinny (id, score, tokens) projection so the quality/token
    // expressions evaluate once (the x_budget_select move)
    val baseSel = Pins.checkpoint(mixed.select(col("doc_id"),
        TA.qualityScore(col("text")).as("__q"), TA.tokenCount(col("text")).as("__n")),
      "capstone.v4.selection")
    val selected = Sampling.budgetSelect(baseSel, col("doc_id"),
      col("__q"), col("__n"), PipelineV4Budget)
    val curated = mixed.join(selected.select(col("doc_id")), Seq("doc_id"))
    Sampling.chunkTokens(curated, col("doc_id"), col("text"),
        ChunkWindow, ChunkStride)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"))
  }

  /** Token budget of capstone v4's curation stage: below the sf0.01
    * pipeline survivor mass, so the boundary per-mille path exercises;
    * at sf0.001 it exceeds the corpus — the take-all edge.
    */
  val PipelineV4Budget = 2000L

  /** Capstone v5's curriculum cut: keep the best `PipelineV5Keep`
    * ranked survivors. Below the sf0.01 survivor count (the cut is
    * active) and above sf0.001's (the take-all edge).
    */
  val PipelineV5Keep = 200L

  /** Capstone v5 — the curriculum pipeline. The v4 front (scrub →
    * Gopher → span decontamination), then the r11-late curation tail:
    * near-dup components dedupe to their argmax-quality representative
    * ([[Dedup.clusterRepresentatives]] — curation-grade, not min-id),
    * survivors take a GLOBAL curriculum rank under (quality desc,
    * doc_id) via [[Sampling.globalRank]] (range-partition + offset
    * table — no single-partition window even though the oracle is the
    * literal `row_number()`), the best [[PipelineV5Keep]] survive the
    * cut, and context-window chunking emits training examples with the
    * doc's rank carried per chunk (what a curriculum loader consumes).
    *
    * The prefix reads the [[despArtifact]] (shared with v4). Persist
    * points: `desp` as in v4; `ranked` feeds both the chunk explode and
    * the rank join-back.
    */
  private[graft] def pipelineCorpusV5(s: SparkSession, dir: String): DataFrame = {
    val desp = Pins.persist(despArtifact(s, dir), "capstone.desp")
    val labeled = Dedup.clusterRepresentatives(
      Dedup.ngramJaccardPairs(desp, "doc_id", col("text"), 3, 0.8,
        eager = true),
      desp.select(col("doc_id"), TA.qualityScore(col("text")).as("q")),
      "doc_id", "q")
    val dropped = labeled.filter(col("doc_id") =!= col("rep_id")).select(col("doc_id"))
    // r20: pin survivors — globalRank's range partitioner runs a
    // SAMPLING pass over its input before the shuffle executes it
    // again; unpinned, the anti-join + quality-regex chain (and the
    // representative groupBy behind it) computed twice per run
    val survivors = Pins.persist(desp.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), TA.qualityScore(col("text")).as("quality")),
      "capstone.survivors")
    val ranked = Pins.persist(Sampling.globalRank(survivors,
        Seq(col("quality").desc, col("doc_id").asc))
      .filter(col("rank") <= PipelineV5Keep), "capstone.ranked")
    Sampling.chunkTokens(ranked, col("doc_id"), col("text"),
        ChunkWindow, ChunkStride)
      .join(ranked.select(col("doc_id"), col("rank")), Seq("doc_id"))
      .select(col("doc_id"), col("rank"), col("chunk_idx"), col("n_chunk_tokens"))
  }

  /** The synthetic crawl as a PERSISTED `.warc.gz` artifact (real
    * gzip-member-per-record response records, identity-keyed like the
    * index caches): built once from the documents table, shared by
    * x_warc_ingest and the v6 capstone. Returns the artifact dir.
    */
  private def warcArtifact(s: SparkSession, dir: String): String = {
    val outDir = indexCachePath(s, dir, "documents.parquet", "warc,v1")
    if (!graft.store.ArtifactCache.isComplete(s, outDir)) {
      val html = concat(lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><p>"), col("text"), lit("</p></body></html>"))
      graft.ingest.Warc.writeResponses(
        Tables.documents(s, dir).select(
          concat(lit("http://crawl.example/doc/"), col("doc_id").cast("string")).as("url"),
          lit("2026-01-01T00:00:00Z").as("date"),
          html.as("html")),
        outDir)
    }
    outDir
  }

  /** The v6 crawl-extraction prefix (WARC read → HTML→text) as a
    * PERSISTED ingest artifact — the same pay-once lifecycle the
    * v2/v3 prefix gets from [[dedupedArtifact]] and v4/v5 from
    * [[despArtifact]]: in production the crawl is exploded to a text
    * table exactly once, and every downstream experiment reads THAT,
    * not the raw archives. Rows are identical to the live chain (the
    * v6 oracle still hashes the full rebuild), only physical
    * provenance changes; pass 1 of a bench pays the build, min-of-2
    * reports the steady state.
    */
  private def crawlExtractArtifact(s: SparkSession, dir: String): DataFrame = {
    val p = indexCachePath(s, dir, "documents.parquet", "warcext,v1")
    if (!graft.store.ArtifactCache.isComplete(s, p))
      graft.ingest.Warc.responses(s, warcArtifact(s, dir))
        .select(regexp_extract(col("url"), "/(\\d+)$", 1).cast("long").as("doc_id"),
          TA.stripHtml(decode(col("body"), "UTF-8")).as("text"))
        .write.mode("overwrite").parquet(p)
    s.read.parquet(p)
  }

  /** Capstone v6 — the CRAWL pipeline: raw `.warc.gz` response records
    * → HTML→text extraction → the TRAINED logistic quality gate (fit
    * on the extracted crawl itself, GPT-3 §A style) → textual near-dup
    * cluster dedup → context-window chunking, with the doc's fitted
    * quality score carried per chunk. This is the round's new ingest
    * tier (WARC) and new model tier (trained classifier) composed with
    * the established dedup + chunk tail — the crawl-to-training-
    * examples story end to end, every stage exactly SQL-expressible
    * (the trainer's K gradient steps unroll as CTEs), so the whole
    * pipeline hash-matches with no precision twin.
    *
    * Scale shape: the WARC read is one task per archive member file
    * (no driver buffering); `ext` persists because the trainer drives
    * K aggregation actions plus the scoring pass over the same
    * extracted frame; the dedup candidate generator is the PPJoin-
    * pruned gram join (never all-pairs); chunking is a narrow
    * per-doc explode.
    */
  private[graft] def pipelineCorpusV6(s: SparkSession, dir: String): DataFrame = {
    val ext = Pins.persist(crawlExtractArtifact(s, dir), "capstone.ext")
    // weights cache on the SOURCE identity (the crawl text derives
    // from it deterministically) + a v6 tag — the crawl fit and the
    // raw-documents fit are different models
    val scored = graft.ops.QualityModel.trainedScore(ext, col("doc_id"), col("text"),
        cacheKey = Some(graft.store.ArtifactCache
          .sourceIdentity(s, s"$dir/documents.parquet") + "|qlt-v6crawl"))
      .select(col("__id").as("doc_id"), col("p_q"), col("keep"))
    val kept = Pins.persist(
      ext.join(scored.filter(col("keep")).select("doc_id", "p_q"), Seq("doc_id")),
      "capstone.kept")
    val dropList = Dedup.clusterDropList(Dedup.nearDupClusters(
      Dedup.ngramJaccardPairs(kept, "doc_id", col("text"), 3, 0.8,
        eager = true)))
    val deduped = kept.join(dropList, Seq("doc_id"), "left_anti")
    Sampling.chunkTokens(deduped, col("doc_id"), col("text"),
        ChunkWindow, ChunkStride)
      .join(deduped.select(col("doc_id"), col("p_q")), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"), col("p_q"))
  }

  /** Semantic-stage cosine threshold. The synthetic embeddings plant no
    * true near-dups (max pairwise cosine ≈ 0.5), so a production-style
    * 0.9+ would never fire; 0.3 (the standalone x_semantic_dedup
    * family's floor) is so dense here (990 pairs over 500 vectors) that
    * component-dedup would collapse most of the corpus. 0.4 is the
    * calibrated middle: 59 pairs at sf0.01 — the stage demonstrably
    * drops semantic near-dups without the connected components chaining
    * into one giant cluster.
    */
  val SemanticDedupThreshold = 0.4

  /** Measured choice for the capstones' `gated` reuse (sf0.1, r10):
    * the PII-scrubbed, Gopher-gated frame (the most expensive narrow ops
    * in the engine) feeds three subtrees (gram counts, the
    * contamination join, the anti-join chain). Lazy evaluation
    * recomputed it in each: 11.7 s; a lineage cut (localCheckpoint)
    * 8.0 s; persist (MEMORY_AND_DISK) — see PLANS.md "capstone v2
    * lineage cut — r10". `persist` is shipped ([[Pins.persist]]): the
    * same one-materialization win as the lineage cut, but recoverable
    * on executor loss (a severed lineage is a job killer on a
    * 1000-executor run). The value tags the deduped artifact.
    */
  val PipelineV2GatedReuse = "persist"

  val BpeMergeRounds = 4

  /** The BPE trainer's `k` rounds unrolled as CTEs: round i counts
    * adjacent pairs of round i-1's stream, takes the (n desc, pair asc)
    * top-1 as a scalar subquery, and rewrites via literal `replace` —
    * the exact operation sequence of [[graft.ops.Vocab.bpeMergeRounds]].
    */
  private def bpeMergesSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH r0 AS (SELECT '  ' || array_to_string(" +
      raw"regexp_extract_all(lower(text), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'), '  ') || '  ' AS s FROM documents)")
    for (i <- 1 to k) {
      sb.append(s""",
         |p$i AS (SELECT unnest(CASE WHEN len(a) < 2 THEN []
         |    ELSE [a[j] || ' ' || a[j+1] FOR j IN range(1, len(a))] END) AS pair
         |  FROM (SELECT regexp_split_to_array(trim(s), ' +') AS a FROM r${i - 1})),
         |top$i AS (SELECT pair, count(*) AS n FROM p$i GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         |r$i AS (SELECT replace(s, ' ' || replace((SELECT pair FROM top$i), ' ', '  ') || ' ',
         |  ' ' || replace((SELECT pair FROM top$i), ' ', chr(1)) || ' ') AS s FROM r${i - 1})""".stripMargin)
    }
    sb.append("\n" + (1 to k).map(i =>
      s"SELECT $i AS merge_rank, pair, n FROM top$i").mkString(" UNION ALL "))
    sb.toString
  }

  /** [[graft.ops.Vocab.bpeEncode]]'s oracle: re-derive the k merges
    * with the trainer's unrolled CTEs (doc_id carried through the
    * rewrites this time) and emit each doc's round-k stream.
    */
  private def bpeEncodeSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH r0 AS (SELECT doc_id, '  ' || array_to_string(" +
      raw"regexp_extract_all(lower(text), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'), '  ') || '  ' AS s FROM documents)")
    for (i <- 1 to k) {
      sb.append(s""",
         |p$i AS (SELECT unnest(CASE WHEN len(a) < 2 THEN []
         |    ELSE [a[j] || ' ' || a[j+1] FOR j IN range(1, len(a))] END) AS pair
         |  FROM (SELECT regexp_split_to_array(trim(s), ' +') AS a FROM r${i - 1})),
         |top$i AS (SELECT pair, count(*) AS n FROM p$i GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         |r$i AS (SELECT doc_id, replace(s, ' ' || replace((SELECT pair FROM top$i), ' ', '  ') || ' ',
         |  ' ' || replace((SELECT pair FROM top$i), ' ', chr(1)) || ' ') AS s FROM r${i - 1})""".stripMargin)
    }
    sb.append(s"""
       |SELECT doc_id, regexp_replace(trim(s), ' +', ' ', 'g') AS encoded,
       |  CAST(len(regexp_split_to_array(trim(s), ' +')) AS BIGINT) AS n_bpe_tokens
       |FROM r$k""".stripMargin)
    sb.toString
  }

  /** The aHash oracle CTE: replays `Multimodal.perceptualHash`'s
    * integer grid arithmetic off the text bytes the P5 raster packs
    * (8×8 nearest-neighbor sample, h=1 so rows collapse; `s·64 > Σs`
    * threshold; 32-bit halves packed MSB-first). Same ASCII/non-empty
    * documents invariant as the other x_media_* oracles.
    */
  private val phashSqlCte: String =
    """WITH a AS (SELECT doc_id AS media_id, [ord(c) FOR c IN split(text, '')] AS b FROM documents),
      |g AS (SELECT media_id, CAST(len(b) AS INT) AS width, 1 AS height,
      |  [b[(((i % 8) * len(b)) // 8) + 1] FOR i IN range(0, 64)] AS s FROM a),
      |t AS (SELECT media_id, width, height, s, list_sum(s) AS tot FROM g),
      |ph AS MATERIALIZED (SELECT media_id, width, height,
      |  CAST(list_sum([CASE WHEN s[i+1] * 64 > tot THEN 1::BIGINT << (31 - i) ELSE 0::BIGINT END
      |    FOR i IN range(0, 32)]) AS BIGINT) AS ph_hi,
      |  CAST(list_sum([CASE WHEN s[i+33] * 64 > tot THEN 1::BIGINT << (31 - i) ELSE 0::BIGINT END
      |    FOR i IN range(0, 32)]) AS BIGINT) AS ph_lo
      |FROM t)""".stripMargin

  /** The acoustic-fingerprint oracle CTE: replays
    * `Multimodal.audioFingerprint` off the clamped PCM samples the
    * packWav payload derives from the text bytes (64 contiguous
    * `[i·n/64, (i+1)·n/64)` energy frames of Σ|sample|; `e_i·64 > Σe`
    * threshold; 32-bit halves packed MSB-first). Same ASCII/non-empty
    * documents invariant as the other x_media_* oracles.
    */
  private def audioFpSqlCte(rel: String = "documents"): String =
    s"""WITH a AS (SELECT doc_id AS media_id,
      |  [least((ord(c) - 96) * 256, 32767) FOR c IN split(text, '')] AS s FROM $rel),
      |e AS (SELECT media_id, CAST(len(s) AS INT) AS n_samples,
      |  [coalesce(list_sum([abs(s[j+1]) FOR j IN range((i * len(s)) // 64, ((i+1) * len(s)) // 64)]), 0)
      |    FOR i IN range(0, 64)] AS eng,
      |  coalesce(list_sum([abs(x) FOR x IN s]), 0) AS tot FROM a),
      |ph AS MATERIALIZED (SELECT media_id, n_samples,
      |  CAST(list_sum([CASE WHEN eng[i+1] * 64 > tot THEN 1::BIGINT << (31 - i) ELSE 0::BIGINT END
      |    FOR i IN range(0, 32)]) AS BIGINT) AS ph_hi,
      |  CAST(list_sum([CASE WHEN eng[i+33] * 64 > tot THEN 1::BIGINT << (31 - i) ELSE 0::BIGINT END
      |    FOR i IN range(0, 32)]) AS BIGINT) AS ph_lo
      |FROM e)""".stripMargin

  private def jaccardSql(threshold: Double, relation: String = "documents"): String =
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM $relation),
         |grams AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [] ELSE
         |  [array_to_string(list_slice(t, i, i+2), ' ') FOR i IN range(1, len(t)-1)] END) AS gs FROM toks),
         |eg AS MATERIALIZED (SELECT doc_id, unnest(gs) AS gram FROM grams),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM eg GROUP BY doc_id),
         |pairs AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS inter
         |  FROM eg l JOIN eg r USING (gram) WHERE l.doc_id < r.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(a.n_grams + b.n_grams - inter AS DOUBLE), 6) AS jaccard
         |FROM pairs JOIN sizes a ON a.doc_id = id_a JOIN sizes b ON b.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / CAST(a.n_grams + b.n_grams - inter AS DOUBLE) >= $threshold""".stripMargin

  /** Deterministic path for a persisted per-dataset index artifact,
    * keyed by the SOURCE PARQUET'S IDENTITY (path + mtime + size), not
    * just the path: the driver re-provisions `/root/testdata` in place
    * (it did between r9 and r10), and a path-only key would silently
    * serve index rows built from the replaced data — a wrong-answer
    * class nothing downstream detects. A changed file ⇒ a fresh key ⇒
    * the index rebuilds. Delegates to [[graft.store.ArtifactCache]]:
    * Hadoop-FS probes, so the cache root is object-store-capable
    * (`spark.graft.artifactDir`).
    */
  private def indexCachePath(s: SparkSession, dir: String,
                             sourceFile: String, params: String): String =
    graft.store.ArtifactCache.path(s, s"$dir/$sourceFile", params)

  /** Pay-once corpus-level exact near-dup pair set (word 3-grams,
    * τ=0.8): ONE corpus-scale PPJoin, persisted under an identity-keyed
    * path, shared by every query that needs THE pair set as an input —
    * x_split_leakage, x_split_quarantine, x_cluster_best_rep, and the
    * exact-restriction side of x_incremental_near_dup_precision. (r16
    * verdict #1 flagged the split-audit family's doubled run as the
    * last redundant corpus-scale recompute; the other two consumers
    * ran the identical join a third and fourth time.) x_ngram_jaccard
    * and x_near_dup_clusters intentionally stay LIVE: they are the
    * measured demonstrations of the PPJoin operator itself, and caching
    * them would hide the operator's cost from the bench. The pair set
    * is exact, so artifact and live runs agree row-for-row; the
    * n/threshold parameters are part of the key, so a retuned audit
    * rebuilds.
    */
  private def corpusExactPairs(s: SparkSession, dir: String): DataFrame = {
    val outDir = indexCachePath(s, dir, "documents.parquet", "exactpairs,n=3,tau=0.8,v1")
    if (!graft.store.ArtifactCache.isComplete(s, outDir))
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", col("text"),
          3, 0.8, eager = true)
        .write.mode("overwrite").parquet(outDir)
    s.read.parquet(outDir)
  }

  /** Unigram-trainer config for the x_unigram_* queries: maxWordLen 8
    * covers every letter run in the corpus (longer runs would be
    * excluded from training by design and char-fallback at encode).
    * The oracle SQL derives from the SAME value.
    */
  private val UnigramCfg =
    graft.ops.UnigramLm.Config(maxWordLen = 8, maxPieceLen = 4,
      seedMulti = 160, pruneMulti = Seq(96, 48))

  /** Train-once unigram tokenizer artifacts: (vocab, final-round word
    * segmentation), persisted like the LSH/PQ-codes caches and keyed by
    * source identity + every training knob.
    */
  private def unigramArtifact(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tag = s"unigram,L=${UnigramCfg.maxWordLen},P=${UnigramCfg.maxPieceLen}," +
      s"s0=${UnigramCfg.seedMulti},prune=${UnigramCfg.pruneMulti.mkString("-")},v1"
    val vocabP = indexCachePath(s, dir, "documents.parquet", tag + ",vocab")
    val emP = indexCachePath(s, dir, "documents.parquet", tag + ",em")
    if (!graft.store.ArtifactCache.isComplete(s, vocabP) ||
        !graft.store.ArtifactCache.isComplete(s, emP)) {
      val (vocab, em, _) =
        graft.ops.UnigramLm.trainParts(Tables.documents(s, dir), col("text"), UnigramCfg)
      vocab.write.mode("overwrite").parquet(vocabP)
      em.write.mode("overwrite").parquet(emP)
    }
    (s.read.parquet(vocabP), s.read.parquet(emP))
  }

  /** In-process IVF-PQ index cache, keyed by the SAME source-parquet
    * identity as [[indexCachePath]]: the codebooks + coarse centroids
    * are a train-once artifact in production (the persisted-index
    * lifecycle the LSH queries model with parquet), so the four
    * x_ann_ivfpq* queries share one training instead of re-collecting
    * the sample and re-running Lloyd per query. A re-provisioned
    * testdata dir changes the key and retrains.
    */
  private val ivfPqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.IvfPqIndex]()

  /** Plain-IVF coarse quantizer cache (r19 verdict #3): the spherical
    * Lloyd fit `x_ann_ivf`/`x_ann_ivf_precision` share — same
    * train-once lifecycle as [[cachedIvfPqIndex]] (which canNOT be
    * reused here: IVF-PQ's coarse cells are Euclidean, plain IVF's are
    * spherical). Keyed by source identity + every training knob; a
    * re-provisioned testdata dir retrains.
    */
  private val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def cachedIvfCentroids(s: SparkSession, dir: String): Array[Array[Double]] = {
    val key = graft.store.ArtifactCache.sourceIdentity(s, s"$dir/embeddings.parquet") +
      "|ivf,c=16,mod=10,it=3,n=10000,v1"
    ivfCentroidCache.computeIfAbsent(key, _ =>
      Similarity.trainIvfCentroids(Tables.embeddings(s, dir), "vec_id", "embedding"))
  }

  private def cachedIvfPqIndex(s: SparkSession, dir: String): Similarity.IvfPqIndex = {
    val key = graft.store.ArtifactCache.sourceIdentity(s, s"$dir/embeddings.parquet") +
      "|ivfpq,c=16,m=16,k=16,v1"
    ivfPqIndexCache.computeIfAbsent(key, _ =>
      Similarity.trainIvfPqIndex(Tables.embeddings(s, dir), "vec_id", "embedding"))
  }

  /** The persisted PQ codes artifact ([[Similarity.encodePqCorpus]]),
    * written once per (source-identity, params) and reread by every
    * search — the ingest-time encode is the expensive step (per-row
    * m·k distance tables through interpreted HOFs; measured ~5 s of
    * each ivfpq query at sf0.1 before this), and re-paying it per
    * query was the one part of the query family that was NOT the
    * production shape. Same parquet lifecycle as the LSH indexes.
    */
  private def cachedPqCodes(s: SparkSession, dir: String): DataFrame = {
    val codesDir = indexCachePath(s, dir, "embeddings.parquet", "ivfpq-codes,c=16,m=16,k=16,v1")
    if (!graft.store.ArtifactCache.isComplete(s, codesDir))
      Similarity.encodePqCorpus(
          Tables.embeddings(s, dir), "vec_id", "embedding", cachedIvfPqIndex(s, dir))
        .write.mode("overwrite").parquet(codesDir)
    s.read.parquet(codesDir)
  }

  /** Force the ANN family's shared pay-once artifacts at `dir` — the
    * in-process IVF-PQ codebook training and the persisted PQ-codes
    * parquet. The bench calls this ONCE at the measured SF and times it
    * as its own line item (r18 verdict #3), so which family member runs
    * first no longer decides where the build cost lands and per-query
    * numbers compare cleanly round over round. Idempotent: a complete
    * on-disk codes artifact short-circuits to a metadata check.
    */
  def prebuildAnnArtifacts(s: SparkSession, dir: String): Unit = {
    // force the in-process codebook EXPLICITLY: when the codes parquet
    // already exists on disk (unchanged testdata across sessions),
    // cachedPqCodes alone would skip training and the Lloyd fit would
    // land back inside the first family query
    cachedIvfPqIndex(s, dir)
    cachedPqCodes(s, dir).count()
    // plain IVF's spherical coarse fit (r19 verdict #3 — it trained
    // in-query, so x_ann_ivf paid it on whichever pass ran first)
    cachedIvfCentroids(s, dir)
    ()
  }

  /** Span length of the `x_exact_substr_scrub` query — shared by the
    * Spark call and the SQL mirror.
    */
  val ExactSubstrK = 8

  /** [[graft.ops.Dedup.decontaminationScrub]]'s oracle: corpus-side
    * positioned gram hashes joined against the benchmark's distinct
    * gram set, then the exactSubstrScrub rebuild tail.
    */
  private def decontaminationScrubSql(
      k: Int,
      corpusRel: String = "(SELECT doc_id, text FROM documents WHERE source != 'src0')",
      benchRel: String = "(SELECT text FROM documents WHERE source = 'src0')"): String = {
    val toks = raw"regexp_split_to_array(lower(trim(text)), '\s+')"
    val gramHash = TA.md5PrefixLongSql(
      s"array_to_string(list_slice(t, i + 1, i + $k), ' ')", 15)
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, $toks AS t FROM $corpusRel),
       |occ AS MATERIALIZED (SELECT doc_id,
       |    unnest(CASE WHEN len(t) < $k THEN [] ELSE range(0, len(t) - ${k - 1}) END) AS i,
       |    unnest(CASE WHEN len(t) < $k THEN [] ELSE [$gramHash FOR i IN range(0, len(t) - ${k - 1})] END) AS h
       |  FROM toks),
       |btoks AS (SELECT $toks AS t FROM $benchRel),
       |bg AS (SELECT DISTINCT unnest(CASE WHEN len(t) < $k THEN []
       |    ELSE [$gramHash FOR i IN range(0, len(t) - ${k - 1})] END) AS h FROM btoks),
       |cov AS MATERIALIZED (SELECT DISTINCT doc_id, i FROM occ JOIN bg USING (h)),
       |pos AS (SELECT doc_id, unnest(range(0, len(t))) AS j, unnest(t) AS tok FROM toks),
       |kept AS (SELECT p.doc_id, p.j, p.tok FROM pos p WHERE NOT EXISTS (
       |  SELECT 1 FROM cov c WHERE c.doc_id = p.doc_id AND c.i <= p.j AND p.j < c.i + $k)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS scrubbed,
       |  count(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(a.scrubbed, '') AS scrubbed,
       |  CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
       |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** Window/stride of the `x_chunk_documents` query — 64-token windows
    * every 48 tokens (25% overlap), shared by the Spark call and the
    * SQL mirror.
    */
  val ChunkWindow = 64
  val ChunkStride = 48

  /** Document-frequency threshold of the `x_line_dedup` query. */
  val LineDedupMinDf = 5

  /** Token budget of the `x_budget_select` query: ~1/3 of the sf0.01
    * corpus's token mass, so both the whole-bucket and the boundary-
    * rate paths exercise (at sf0.001 the budget exceeds the corpus —
    * the take-all edge; at sf0.1 it selects the top few percent).
    */
  val BudgetSelectTokens = 6000L

  /** Query terms of the `x_bm25_topk` retrieval query — mid-frequency
    * corpus vocabulary so the idf spread is non-trivial.
    */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "vector", "merge")

  /** `x_unimax_alloc` parameters: 90% of the corpus's tokens at a
    * 1-epoch cap puts the four low-resource languages at their full
    * epoch and leaves the head language the (smaller) remainder — both
    * waterfill branches exercised on the declared-lang distribution.
    */
  val UniMaxBudgetFrac = 0.9
  val UniMaxEpochCap = 1.0

  /** `x_dsir_*` parameters: 512 hash buckets keeps the broadcast model
    * literal small while leaving real collision-smoothing at sf0.01
    * (500 docs ≈ 60k gram occurrences); k=100 selects a strict subset
    * at sf0.01+ and degrades to take-all at sf0.001 — both paths seen.
    */
  val DsirBuckets = 512
  val DsirSelectK = 100

  /** DuckDB FROM-sources for the DSIR raw/target split: the whole
    * corpus vs its English slice (the paper's "curated target").
    */
  private val DsirRawSql = "documents"
  private val DsirTargetSql = "(SELECT * FROM documents WHERE lang = 'en')"

  /** [[graft.ops.Dedup.lineDedup]]'s oracle: the identical line
    * structuring (10-token lines + injected boilerplate header/footer),
    * doc-frequency count, hot-line exclusion, and ordered rebuild.
    */
  private def lineDedupSql(minDf: Int): String =
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
         |built AS (SELECT doc_id, array_to_string(list_concat(list_concat(
         |    ['subscribe to our newsletter today'],
         |    [array_to_string(list_slice(t, i, i + 9), ' ') FOR i IN range(1, len(t) + 1, 10)]),
         |    ['click here to unsubscribe']), chr(10)) AS text FROM toks),
         |flat AS MATERIALIZED (SELECT doc_id, s['i'] AS line_no, s['ln'] AS line FROM
         |  (SELECT doc_id, unnest([{'i': i, 'ln': l[i]} FOR i IN range(1, len(l) + 1)]) AS s
         |   FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM built))),
         |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1)
         |  WHERE df >= $minDf),
         |kept AS (SELECT doc_id, line_no, line FROM flat WHERE line NOT IN (SELECT line FROM hot)),
         |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text,
         |  count(*) AS n FROM kept GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_lines FROM flat GROUP BY 1)
         |SELECT t.doc_id, coalesce(a.text, '') AS text,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_lines_kept,
         |  CAST(t.n_lines - coalesce(a.n, 0) AS BIGINT) AS n_lines_dropped
         |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** [[graft.ops.Dedup.exactSubstrScrub]] as relational SQL: the
    * per-position gram hashes come from two lockstep `unnest`s (DuckDB
    * zips equal-length unnests), duplication is a HAVING over the hash
    * counts, and the kept token stream is rebuilt by an ordered
    * string_agg over the positions no duplicated span covers —
    * 0-based positions to match Spark's `posexplode`/`filter` indices.
    */
  private def exactSubstrScrubSql(k: Int, minCount: Int): String = {
    val toks = raw"regexp_split_to_array(lower(trim(text)), '\s+')"
    val gramHash = TA.md5PrefixLongSql(
      s"array_to_string(list_slice(t, i + 1, i + $k), ' ')", 15)
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, $toks AS t FROM documents),
       |occ AS MATERIALIZED (SELECT doc_id,
       |    unnest(CASE WHEN len(t) < $k THEN [] ELSE range(0, len(t) - ${k - 1}) END) AS i,
       |    unnest(CASE WHEN len(t) < $k THEN [] ELSE [$gramHash FOR i IN range(0, len(t) - ${k - 1})] END) AS h
       |  FROM toks),
       |dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= $minCount),
       |cov AS MATERIALIZED (SELECT DISTINCT doc_id, i FROM occ JOIN dup USING (h)),
       |pos AS (SELECT doc_id, unnest(range(0, len(t))) AS j, unnest(t) AS tok FROM toks),
       |kept AS (SELECT p.doc_id, p.j, p.tok FROM pos p WHERE NOT EXISTS (
       |  SELECT 1 FROM cov c WHERE c.doc_id = p.doc_id AND c.i <= p.j AND p.j < c.i + $k)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS scrubbed,
       |  count(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(a.scrubbed, '') AS scrubbed,
       |  CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
       |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** The v2/v3 shared CTE prefix, mirroring [[pipelineDeduped]]:
    * scrub → gate → fractional decontamination → textual cluster dedup,
    * ending at relation `deduped (doc_id, text)`.
    *
    * The multiply-referenced / recursion-feeding CTEs are
    * `MATERIALIZED`: DuckDB inlines plain CTEs per reference, so `sym`
    * (referenced by every `reach` iteration) would otherwise re-run the
    * quadratic gram join per iteration and `deduped` would re-run the
    * entire chain per downstream consumer — measured 24.5 s → 2.5 s on
    * the v2 oracle at sf0.01, and the difference between ~21 s and
    * unbounded (>100 s) once v3 nests a second recursion downstream.
    */
  private def pipelineDedupedSqlCtes: String =
    s"""WITH RECURSIVE
       |scrubbed AS MATERIALIZED (SELECT doc_id, ${TA.scrubPiiSql("text")} AS text FROM documents
       |  WHERE source != 'src0'),
       |gated AS MATERIALIZED (SELECT doc_id, text FROM scrubbed WHERE ${TA.gopherPassSql("text")}),
       |cg AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(${TA.wordNgramsSql("text", 3)})) AS gram FROM gated),
       |bg AS (SELECT DISTINCT unnest(list_distinct(${TA.wordNgramsSql("text", 3)})) AS gram
       |  FROM documents WHERE source = 'src0'),
       |hits AS (SELECT doc_id, count(*) AS n FROM cg JOIN bg USING (gram) GROUP BY doc_id),
       |gsz AS (SELECT doc_id, count(*) AS g FROM cg GROUP BY doc_id),
       |contaminated AS (SELECT doc_id FROM hits JOIN gsz USING (doc_id)
       |  WHERE CAST(n AS DOUBLE) / CAST(g AS DOUBLE) >= 0.5),
       |clean AS MATERIALIZED (SELECT doc_id, text FROM gated
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |prs AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8, "clean")})),
       |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs)),
       |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
       |dropped AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id != MIN(r)),
       |deduped AS MATERIALIZED (SELECT doc_id, text FROM clean
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped))""".stripMargin

  /** The shared pipeline-tail SQL, mirroring [[mixAndPack]]: stratified
    * mixing then sequence packing over relation `rel (doc_id, text)`.
    */
  private def mixPackSql(rel: String): String =
    s"""sampled AS (SELECT doc_id, text FROM $rel
       |  WHERE ${graft.ops.Sampling.hashPermilleSql("doc_id")} <
       |    (CASE WHEN ${TA.langIdSql("text")} = 'en' THEN 200 ELSE 1000 END)),
       |t AS (SELECT doc_id,
       |  CAST(${TA.tokenCountSql("text")} AS BIGINT) AS n_tokens,
       |  ${graft.ops.Sampling.hash32Sql("doc_id")} AS h FROM sampled),
       |p AS (SELECT doc_id, h % 8 AS shard, n_tokens,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n_tokens AS BIGINT) AS start_off
       |FROM t)
       |SELECT doc_id, shard, start_off,
       |  CAST(start_off // 2048 AS BIGINT) AS bin_first,
       |  CAST(greatest(start_off, start_off + n_tokens - 1) // 2048 AS BIGINT) AS bin_last
       |FROM p""".stripMargin

  /** Exact brute-force top-`k` (query, neighbor) pairs; `withRank`
    * includes the rank column (the x_ann_bruteforce shape), the
    * pairs-only form backs the ANN containment oracles.
    */
  /** Shared by `x_decontamination` and `x_decontamination_bloom`: the
    * Bloom form is exact (prefilter only, no false negatives), so both
    * queries answer the same SQL.
    */
  private val DecontaminationSql: String =
    s"""WITH eg AS (SELECT doc_id, source,
       |    unnest(list_distinct(${TA.wordNgramsSql("text", 3)})) AS gram FROM documents),
       |bench AS (SELECT DISTINCT gram FROM eg WHERE source = 'src0')
       |SELECT e.doc_id, count(*) AS n_hits FROM eg e JOIN bench b USING (gram)
       |WHERE e.source != 'src0' GROUP BY 1""".stripMargin

  private def annTopKSql(k: Int, withRank: Boolean): String = {
    val sel = if (withRank) "query_id, neighbor_id, rnk" else "query_id, neighbor_id"
    raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  list_cosine_similarity(qv, e.embedding) AS sim FROM q, embeddings e WHERE e.vec_id != query_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |FROM scored)
         |SELECT $sel FROM ranked WHERE rnk <= $k""".stripMargin
  }

  private val simhashMd5Sql: String =
    raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         |h AS (SELECT doc_id, ${TA.md5PrefixLongSql("tok", 15)} AS h FROM toks),
         |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY doc_id, b)
         |SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash60
         |FROM bits GROUP BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_minhash_lsh_precision" ->
      s"SELECT id_a, id_b FROM (${jaccardSql(0.8)})",
    "x_near_dup_clusters" ->
      (s"""WITH RECURSIVE edges AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8)})),
          |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
          |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM edges UNION ALL SELECT id_b, id_a FROM edges),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst)
          |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin),
    "x_incremental_dedup_exact" ->
      (s"""WITH fps AS (SELECT doc_id, ${TA.fingerprintSql("text")} AS fp FROM documents),
          |b AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps WHERE doc_id % 10 = 0 GROUP BY 1)
          |SELECT doc_id, fp FROM b
          |WHERE NOT EXISTS (SELECT 1 FROM fps c WHERE c.doc_id % 10 != 0 AND c.fp = b.fp)""".stripMargin),
    "x_incremental_near_dup_precision" ->
      s"SELECT id_a, id_b FROM (${jaccardSql(0.8)}) WHERE id_a % 10 = 0 OR id_b % 10 = 0",
    "x_incremental_embed_precision" ->
      ("""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a, greatest(a.vec_id, b.vec_id) AS id_b
         |FROM embeddings a JOIN b ON a.vec_id != b.vec_id
         |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3""".stripMargin),
    "x_embed_near_dup_lsh_precision" ->
      ("""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM s a JOIN s b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3""".stripMargin),
    "x_semantic_dedup_precision" ->
      ("""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM s a JOIN s b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3""".stripMargin),
    "x_compression_bound" ->
      "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_len, TRUE AS bound_ok FROM documents",
    "x_ann_lsh_precision" -> annTopKSql(AnnOracleKPrime, withRank = false),
    "x_ann_ivf_precision" -> annTopKSql(AnnOracleKPrime, withRank = false),
    "x_ann_ivfpq_precision" -> annTopKSql(PqOracleKPrime, withRank = false),
    "x_ann_ivfpq_refined_precision" -> annTopKSql(RefinedOracleKPrime, withRank = false),
    "x_simhash_md5" -> simhashMd5Sql,
    "x_winnow_fingerprint" ->
      s"SELECT doc_id, unnest(${TA.winnowFingerprintsSql("text")}) AS fp FROM documents",
    "x_winnow_dup_pairs" ->
      (s"""WITH prints AS MATERIALIZED (SELECT doc_id, unnest(${TA.winnowFingerprintsSql("text")}) AS print FROM documents),
          |hot AS (SELECT print FROM prints GROUP BY print HAVING count(*) > ${Dedup.WinnowDefaultMaxDocFreq}),
          |f AS MATERIALIZED (SELECT doc_id, print FROM prints WHERE print NOT IN (SELECT print FROM hot)),
          |pairs AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared
          |  FROM f l JOIN f r USING (print) WHERE l.doc_id < r.doc_id GROUP BY 1, 2)
          |SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2""".stripMargin),
    "x_exact_substr_scrub" -> exactSubstrScrubSql(ExactSubstrK, 2),
    "x_decontamination_scrub" -> decontaminationScrubSql(3),
    "x_decontamination" -> DecontaminationSql,
    // the Bloom-prefiltered form is exact by construction — same oracle
    "x_decontamination_bloom" -> DecontaminationSql,
    "x_repetition_ratio" ->
      s"SELECT doc_id, ${TA.repetitionRatioSql("text", 2)} AS rep_ratio FROM documents",
    "x_stratified_sample" ->
      (s"""WITH l AS (SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess FROM documents)
          |SELECT doc_id, lang_guess FROM l
          |WHERE ${graft.ops.Sampling.hashPermilleSql("doc_id")} <
          |  (CASE WHEN lang_guess = 'en' THEN 200 ELSE 1000 END)""".stripMargin),
    "x_pipeline_corpus" ->
      (s"""WITH RECURSIVE
          |gated AS MATERIALIZED (SELECT doc_id, text FROM documents
          |  WHERE source != 'src0' AND ${TA.gopherPassSql("text")}),
          |cg AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(${TA.wordNgramsSql("text", 3)})) AS gram FROM gated),
          |bg AS (SELECT DISTINCT unnest(list_distinct(${TA.wordNgramsSql("text", 3)})) AS gram
          |  FROM documents WHERE source = 'src0'),
          |hits AS (SELECT doc_id, count(*) AS n FROM cg JOIN bg USING (gram) GROUP BY doc_id),
          |gsz AS (SELECT doc_id, count(*) AS g FROM cg GROUP BY doc_id),
          |contaminated AS (SELECT doc_id FROM hits JOIN gsz USING (doc_id)
          |  WHERE CAST(n AS DOUBLE) / CAST(g AS DOUBLE) >= 0.5),
          |clean AS MATERIALIZED (SELECT doc_id, text FROM gated
          |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
          |prs AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8, "clean")})),
          |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs)),
          |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
          |dropped AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id != MIN(r))
          |SELECT doc_id, ${TA.tokenCountSql("text")} AS n_tokens FROM clean
          |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),
    "x_pipeline_corpus_v2" ->
      s"$pipelineDedupedSqlCtes,\n${mixPackSql("deduped")}",
    "x_pipeline_corpus_v4" ->
      (s"""WITH RECURSIVE
          |scrubbed AS MATERIALIZED (SELECT doc_id, ${TA.scrubPiiSql("text")} AS text FROM documents
          |  WHERE source != 'src0'),
          |gated AS MATERIALIZED (SELECT doc_id, text FROM scrubbed WHERE ${TA.gopherPassSql("text")}),
          |desp AS MATERIALIZED (SELECT doc_id, scrubbed AS text FROM
          |  (${decontaminationScrubSql(3, corpusRel = "gated",
               benchRel = "(SELECT text FROM documents WHERE source = 'src0')")})),
          |prs AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8, "desp")})),
          |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs)),
          |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
          |dropped AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id != MIN(r)),
          |deduped AS MATERIALIZED (SELECT doc_id, text FROM desp
          |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
          |lng AS (SELECT doc_id, text, ${TA.langIdSql("text")} AS lang FROM deduped),
          |tcounts AS (SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM lng GROUP BY 1),
          |tcm AS (SELECT MIN(c) AS cmin FROM tcounts),
          |trates AS (SELECT lang, round(power(cmin / c, 0.5) * 1000) AS thr FROM tcounts, tcm),
          |mixed AS MATERIALIZED (SELECT doc_id, text FROM lng JOIN trates USING (lang)
          |  WHERE ${graft.ops.Sampling.hashPermilleSql("doc_id")} < thr),
          |sel AS (SELECT doc_id FROM (${graft.ops.Sampling.budgetSelectSql(
               TA.qualityScoreSql("text"), TA.tokenCountSql("text"), PipelineV4Budget, "mixed")})),
          |cur AS MATERIALIZED (SELECT m.doc_id, m.text FROM mixed m JOIN sel USING (doc_id))
          |SELECT doc_id, chunk_idx, n_chunk_tokens FROM
          |  (${graft.ops.Sampling.chunkTokensSql(ChunkWindow, ChunkStride, "cur")})""".stripMargin),
    "x_pipeline_corpus_v5" ->
      (s"""WITH RECURSIVE
          |scrubbed AS MATERIALIZED (SELECT doc_id, ${TA.scrubPiiSql("text")} AS text FROM documents
          |  WHERE source != 'src0'),
          |gated AS MATERIALIZED (SELECT doc_id, text FROM scrubbed WHERE ${TA.gopherPassSql("text")}),
          |desp AS MATERIALIZED (SELECT doc_id, scrubbed AS text FROM
          |  (${decontaminationScrubSql(3, corpusRel = "gated",
               benchRel = "(SELECT text FROM documents WHERE source = 'src0')")})),
          |prs AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8, "desp")})),
          |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs)),
          |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
          |vclusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |vq AS (SELECT doc_id, ${TA.qualityScoreSql("text")} AS q FROM desp),
          |vranked AS (SELECT c.cluster_id, c.doc_id,
          |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY vq.q DESC, c.doc_id) AS rn
          |  FROM vclusters c JOIN vq USING (doc_id)),
          |vdropped AS (SELECT doc_id FROM vranked WHERE rn > 1),
          |surv AS MATERIALIZED (SELECT doc_id, text, ${TA.qualityScoreSql("text")} AS quality FROM desp
          |  WHERE doc_id NOT IN (SELECT doc_id FROM vdropped)),
          |rk AS MATERIALIZED (SELECT doc_id, text,
          |    CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
          |  FROM surv),
          |kept AS MATERIALIZED (SELECT doc_id, text, rank FROM rk WHERE rank <= $PipelineV5Keep)
          |SELECT k.doc_id, k.rank, c.chunk_idx, c.n_chunk_tokens
          |FROM (${graft.ops.Sampling.chunkTokensSql(ChunkWindow, ChunkStride, "kept")}) c
          |JOIN kept k USING (doc_id)""".stripMargin),
    "x_pipeline_corpus_v6" ->
      (s"""WITH RECURSIVE
          |h AS (SELECT doc_id,
          |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          |  '</title></head><body><p>' || text || '</p></body></html>' AS html
          |  FROM documents),
          |ext AS MATERIALIZED (SELECT doc_id, ${TA.stripHtmlSql("html")} AS text FROM h),
          |q AS MATERIALIZED (SELECT * FROM (
          |  ${graft.ops.QualityModel.trainedScoreSql("doc_id", "text", "ext")}) tq),
          |kept6 AS MATERIALIZED (SELECT e.doc_id, e.text, q.p_q FROM ext e
          |  JOIN q USING (doc_id) WHERE q.keep),
          |prs AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8, "kept6")})),
          |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs)),
          |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
          |dropped AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id != MIN(r)),
          |deduped6 AS MATERIALIZED (SELECT doc_id, text, p_q FROM kept6
          |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
          |SELECT c.doc_id, c.chunk_idx, c.n_chunk_tokens, k.p_q
          |FROM (${graft.ops.Sampling.chunkTokensSql(ChunkWindow, ChunkStride, "deduped6")}) c
          |JOIN deduped6 k USING (doc_id)""".stripMargin),
    "x_pipeline_corpus_v3_precision" ->
      (s"""$pipelineDedupedSqlCtes,
          |emb AS MATERIALIZED (SELECT d.doc_id, e.embedding FROM deduped d
          |  JOIN embeddings e ON e.vec_id = d.doc_id),
          |sp AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM emb a JOIN emb b ON a.doc_id < b.doc_id
          |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= $SemanticDedupThreshold),
          |snodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM sp UNION SELECT id_b FROM sp)),
          |ssym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM sp UNION ALL SELECT id_b, id_a FROM sp),
          |sreach(id, r) AS (
          |  SELECT id, id FROM snodes
          |  UNION
          |  SELECT s.src, sreach.r FROM ssym s JOIN sreach ON sreach.id = s.dst),
          |sdropped AS (SELECT id AS doc_id FROM sreach GROUP BY id HAVING id != MIN(r)),
          |semded AS (SELECT doc_id, text FROM deduped
          |  WHERE doc_id NOT IN (SELECT doc_id FROM sdropped)),
          |${mixPackSql("semded")}""".stripMargin),
    "x_vocab_top_tokens" ->
      (raw"""WITH toks AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token FROM documents)
            |SELECT token, count(*) AS n FROM toks WHERE token != '' GROUP BY 1
            |ORDER BY n DESC, token LIMIT 500""".stripMargin),
    "x_bpe_merge_pairs" ->
      (raw"""WITH toks AS (SELECT regexp_extract_all(lower(text), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]') AS a FROM documents),
            |pairs AS (SELECT unnest(CASE WHEN len(a) < 2 THEN []
            |  ELSE [a[i] || ' ' || a[i+1] FOR i IN range(1, len(a))] END) AS pair FROM toks)
            |SELECT pair, count(*) AS n FROM pairs GROUP BY 1
            |ORDER BY n DESC, pair LIMIT 500""".stripMargin),
    "x_bpe_merges_k" -> bpeMergesSql(BpeMergeRounds),
    "x_bpe_encode" -> bpeEncodeSql(BpeMergeRounds),
    "x_unigram_tokenizer" -> graft.ops.UnigramLm.trainSql(UnigramCfg),
    "x_unigram_encode" -> graft.ops.UnigramLm.encodeSql("doc_id", UnigramCfg),
    "x_unigram_logprob" ->
      (raw"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token FROM documents),
            |t AS (SELECT doc_id, token FROM toks WHERE token != ''),
            |model AS (SELECT token, count(*) AS c FROM t GROUP BY 1),
            |tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM model),
            |scored AS (SELECT doc_id, ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)) AS lp
            |  FROM t JOIN model USING (token) CROSS JOIN tot),
            |a AS (SELECT doc_id, CAST(SUM(CAST(lp AS DECIMAL(18,3))) AS DOUBLE) / COUNT(lp) AS avg_lp
            |  FROM scored GROUP BY 1)
            |SELECT doc_id, avg_lp AS avg_logprob, round(exp(-avg_lp), 3) AS ppl FROM a""".stripMargin),
    "x_bigram_logprob" ->
      (raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a FROM documents),
            |bi AS MATERIALIZED (SELECT doc_id, unnest(CASE WHEN len(a) < 2 THEN []
            |  ELSE [a[i] || ' ' || a[i+1] FOR i IN range(1, len(a))] END) AS bigram FROM toks),
            |model AS (SELECT bigram, count(*) AS c FROM bi GROUP BY 1),
            |ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c) AS cc FROM model GROUP BY 1),
            |v AS (SELECT COUNT(DISTINCT token) AS v FROM
            |  (SELECT unnest(a) AS token FROM toks) WHERE token != ''),
            |scored AS (SELECT doc_id, ln(CAST(c + 1 AS DOUBLE) / CAST(cc + v AS DOUBLE)) AS lp
            |  FROM bi JOIN model USING (bigram)
            |  JOIN ctx ON ctx.w1 = split_part(bigram, ' ', 1) CROSS JOIN v),
            |a AS (SELECT doc_id, CAST(SUM(CAST(lp AS DECIMAL(18,3))) AS DOUBLE) / COUNT(lp) AS avg_lp
            |  FROM scored GROUP BY 1)
            |SELECT doc_id, avg_lp AS avg_logprob, round(exp(-avg_lp), 3) AS ppl FROM a""".stripMargin),
    "x_kn_bigram_logprob" -> graft.ops.Vocab.knBigramLogProbSql("doc_id", "text"),
    "x_perplexity_buckets" ->
      (raw"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token FROM documents),
            |t AS (SELECT doc_id, token FROM toks WHERE token != ''),
            |model AS (SELECT token, count(*) AS c FROM t GROUP BY 1),
            |tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM model),
            |scored AS (SELECT doc_id, ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)) AS lp
            |  FROM t JOIN model USING (token) CROSS JOIN tot),
            |a AS (SELECT doc_id, CAST(SUM(CAST(lp AS DECIMAL(18,3))) AS DOUBLE) / COUNT(lp) AS avg_lp
            |  FROM scored GROUP BY 1),
            |p AS (SELECT doc_id, round(exp(-avg_lp), 3) AS ppl FROM a),
            |b AS (SELECT d.doc_id, d.lang, p.ppl,
            |  ntile(3) OVER (PARTITION BY d.lang ORDER BY p.ppl, d.doc_id) AS t3
            |  FROM documents d JOIN p USING (doc_id))
            |SELECT doc_id, lang, ppl,
            |  CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket FROM b""".stripMargin),
    "x_tfidf_top_terms" ->
      (raw"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token FROM documents),
            |t AS (SELECT doc_id, token FROM toks WHERE token != ''),
            |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
            |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            |scored AS (SELECT doc_id, token,
            |    round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 3) AS tfidf
            |  FROM tf JOIN dfq USING (token) CROSS JOIN nd),
            |r AS (SELECT doc_id, token, tfidf,
            |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk FROM scored)
            |SELECT doc_id, token, tfidf FROM r WHERE rnk <= 3""".stripMargin),
    "x_gopher_filter" ->
      (s"SELECT doc_id, " +
        TA.gopherRulesSql("text").map { case (n, e) => s"$e AS $n" }.mkString(", ") +
        s", ${TA.gopherPassSql("text")} AS passes FROM documents"),
    "x_c4_filter" ->
      (raw"""WITH c4toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
            |c4built AS (SELECT doc_id, list_concat(list_concat(list_concat(
            |    [array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' ') ||
            |       CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END
            |     FOR i IN range(0, (len(t) + 9) // 10)],
            |    CASE WHEN doc_id % 7 = 0 THEN ['please enable javascript to view this page.'] ELSE [] END),
            |    CASE WHEN doc_id % 97 = 0 THEN ['lorem ipsum dolor sit amet sample filler.'] ELSE [] END),
            |    CASE WHEN doc_id % 89 = 0 THEN ['window.config = { theme: dark }'] ELSE [] END) AS lines
            |  FROM c4toks),
            |c4k AS (SELECT doc_id, lines, ${TA.c4KeepLinesSql("lines")} AS kept FROM c4built)
            |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
            |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
            |  ${TA.c4PagePassSql("lines", "kept")} AS passes,
            |  coalesce(array_to_string(kept, chr(10)), '') AS cleaned
            |FROM c4k""".stripMargin),
    "x_pii_scrub" ->
      (s"""WITH s AS (SELECT doc_id,
          |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
          |  '@example.com or 555-123-4567, card 4111 1111 1111 1111, host 10.0.0.' ||
          |  CAST(doc_id % 254 AS VARCHAR) AS t FROM documents)
          |SELECT doc_id, ${TA.piiHitsSql("t")} AS n_pii, ${TA.scrubPiiSql("t")} AS scrubbed
          |FROM s""".stripMargin),
    "x_html_extract" ->
      (s"""WITH h AS (SELECT doc_id,
          |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          |  ' &amp; friends</title><style>p { color: #fff; }</style>' ||
          |  '<script>if (1 &lt; 2) { x(); }</script></head><body><!-- id ' ||
          |  CAST(doc_id AS VARCHAR) || ' --><p>' ||
          |  replace(text, ' and ', ' &amp; ') ||
          |  '</p><a href="#ref">see</a> <a' || chr(10) ||
          |  'href="#2">also</a>&nbsp;&quot;end&quot;</body></html>' AS html
          |  FROM documents)
          |SELECT doc_id, ${TA.htmlTitleSql("html")} AS title,
          |  ${TA.htmlLinkCountSql("html")} AS n_links,
          |  ${TA.stripHtmlSql("html")} AS clean_text
          |FROM h""".stripMargin),
    "x_warc_ingest" ->
      ("""WITH b AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</title></head><body><p>' || text || '</p></body></html>' AS body
         |  FROM documents)
         |SELECT doc_id,
         |  'http://crawl.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
         |  CAST(200 AS INT) AS http_status,
         |  'text/html' AS mime,
         |  CAST(octet_length(encode(body)) AS BIGINT) AS n_body_bytes,
         |  md5(body) AS body_md5,
         |  'Doc ' || CAST(doc_id AS VARCHAR) AS title
         |FROM b""".stripMargin),
    "x_chunk_documents" ->
      graft.ops.Sampling.chunkTokensSql(ChunkWindow, ChunkStride),
    "x_quality_logit" ->
      s"SELECT doc_id, ${TA.qualityLogitSql("text")} AS logit_score FROM documents",
    "x_quality_logit_trained" ->
      graft.ops.QualityModel.trainedScoreSql("doc_id", "text", "documents"),
    "x_top_ngram_char_frac" ->
      (s"""SELECT doc_id, ${TA.topNgramCharFractionSql("text", 2)} AS top2_frac,
          |  ${TA.topNgramCharFractionSql("text", 3)} AS top3_frac,
          |  ${TA.topNgramCharFractionSql("text", 4)} AS top4_frac
          |FROM documents""".stripMargin),
    "x_dup_line_metrics" ->
      (raw"""WITH dtoks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
            |dbuilt AS (SELECT doc_id, array_to_string(list_concat(list_concat(
            |    ['subscribe to our newsletter today'],
            |    [array_to_string(list_slice(t, i, i + 9), ' ') FOR i IN range(1, len(t) + 1, 10)]),
            |    ['subscribe to our newsletter today']), chr(10)) AS text FROM dtoks)
            |SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
            |  ${TA.dupLineFractionSql("text")} AS dup_line_frac,
            |  ${TA.dupLineCharFractionSql("text")} AS dup_char_frac
            |FROM dbuilt""".stripMargin),
    "x_line_dedup" -> lineDedupSql(LineDedupMinDf),
    "x_jsonl_roundtrip" ->
      s"SELECT doc_id, source, ${TA.tokenCountSql("text")} AS n_tokens FROM documents",
    "x_orc_roundtrip" ->
      s"SELECT doc_id, source, ${TA.tokenCountSql("text")} AS n_tokens FROM documents",
    "x_csv_roundtrip" ->
      s"SELECT doc_id, source, ${TA.tokenCountSql("text")} AS n_tokens FROM documents",
    "x_doremi_weights" ->
      graft.ops.DomainReweight.doremiWeightsSql("source", "text"),
    "x_doremi_mix" ->
      graft.ops.DomainReweight.doremiMixSql("doc_id", "source", "text"),
    "x_pagerank" ->
      (s"""SELECT id AS doc_id, rank FROM (
          |${graft.ops.LinkGraph.pageRankSql(
             "(SELECT doc_id AS id FROM documents)",
             """(SELECT doc_id AS src,
               |  (doc_id * 31 + k) % (SELECT count(*) FROM documents) AS dst
               |  FROM documents, (SELECT unnest([1, 2, 3]) AS k))""".stripMargin,
             iters = 5)}) pr""".stripMargin),
    "x_line_dedup_within" ->
      (raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
            |built AS (SELECT doc_id, array_to_string(list_concat(list_concat(
            |    ['subscribe to our newsletter today'],
            |    [array_to_string(list_slice(t, i, i + 9), ' ') FOR i IN range(1, len(t) + 1, 10)]),
            |    ['subscribe to our newsletter today']), chr(10)) AS text FROM toks),
            |flat AS MATERIALIZED (SELECT doc_id, s['i'] AS line_no, s['ln'] AS line FROM
            |  (SELECT doc_id, unnest([{'i': i, 'ln': l[i]} FOR i IN range(1, len(l) + 1)]) AS s
            |   FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM built))),
            |firsts AS (SELECT doc_id, line, MIN(line_no) AS line_no FROM flat GROUP BY 1, 2),
            |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text,
            |  count(*) AS n_kept FROM firsts GROUP BY 1),
            |tot AS (SELECT doc_id, count(*) AS n_lines FROM flat GROUP BY 1)
            |SELECT t.doc_id, a.text,
            |  CAST(a.n_kept AS BIGINT) AS n_lines_kept,
            |  CAST(t.n_lines - a.n_kept AS BIGINT) AS n_lines_dropped
            |FROM tot t JOIN agg a USING (doc_id)""".stripMargin),
    "x_budget_select" -> graft.ops.Sampling.budgetSelectSql(
      TA.qualityScoreSql("text"), TA.tokenCountSql("text"), BudgetSelectTokens),
    "x_unimax_alloc" -> graft.ops.Sampling.uniMaxAllocationSql(
      "lang", TA.tokenCountSql("text"), UniMaxBudgetFrac, UniMaxEpochCap),
    "x_unimax_manifest" ->
      (s"""WITH alloc AS (${graft.ops.Sampling.uniMaxAllocationSql(
             "lang", TA.tokenCountSql("text"), UniMaxBudgetFrac, UniMaxEpochCap)}),
          |rr AS (SELECT stratum, CAST(floor(epochs) AS BIGINT) AS fullc,
          |  floor((epochs - floor(epochs)) * 1000) AS thr FROM alloc),
          |series AS (SELECT unnest(range(${math.ceil(UniMaxEpochCap).toLong + 1})) AS copy_idx),
          |e AS (SELECT d.doc_id, rr.stratum, fullc, thr, copy_idx
          |FROM documents d JOIN rr ON rr.stratum = d.lang
          |CROSS JOIN series WHERE copy_idx <= fullc)
          |SELECT doc_id, stratum, CAST(copy_idx AS BIGINT) AS copy_idx FROM e
          |WHERE copy_idx < fullc
          |   OR CAST(${graft.ops.Sampling.hashPermilleSql("doc_id")} AS DOUBLE) < thr""".stripMargin),
    "x_sequence_pack" ->
      (s"""WITH t AS (SELECT doc_id,
          |  CAST(${TA.tokenCountSql("text")} AS BIGINT) AS n_tokens,
          |  ${graft.ops.Sampling.hash32Sql("doc_id")} AS h FROM documents),
          |p AS (SELECT doc_id, h % 8 AS shard, n_tokens,
          |  CAST(SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n_tokens AS BIGINT) AS start_off
          |FROM t)
          |SELECT doc_id, shard, start_off,
          |  CAST(start_off // 2048 AS BIGINT) AS bin_first,
          |  CAST(greatest(start_off, start_off + n_tokens - 1) // 2048 AS BIGINT) AS bin_last
          |FROM p""".stripMargin),
    "x_corpus_mixture" ->
      (s"""WITH shares(stratum, share) AS (VALUES
          |  ('en', CAST(0.7 AS DOUBLE)), ('und', CAST(0.3 AS DOUBLE))),
          |l AS (SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess FROM documents),
          |counts AS (SELECT lang_guess AS stratum, CAST(count(*) AS DOUBLE) AS c FROM l GROUP BY 1),
          |j AS (SELECT counts.stratum, counts.c, shares.share FROM counts JOIN shares USING (stratum)),
          |t AS (SELECT MIN(c / share) AS t FROM j),
          |rates AS (SELECT stratum, share * t.t / c AS rate FROM j, t)
          |SELECT doc_id, lang_guess FROM l JOIN rates ON rates.stratum = l.lang_guess
          |WHERE CAST(${graft.ops.Sampling.hashPermilleSql("doc_id")} AS DOUBLE) < rate * 1000.0""".stripMargin),
    "x_epoch_mixture" ->
      (s"""WITH shares(stratum, share) AS (VALUES
          |  ('en', CAST(0.5 AS DOUBLE)), ('und', CAST(0.5 AS DOUBLE))),
          |l AS (SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess FROM documents),
          |counts AS (SELECT lang_guess AS stratum, CAST(count(*) AS DOUBLE) AS c FROM l GROUP BY 1),
          |j AS (SELECT counts.stratum, counts.c, shares.share FROM counts JOIN shares USING (stratum)),
          |tot AS (SELECT SUM(c) AS t FROM j),
          |rr AS (SELECT stratum,
          |  CAST(floor(LEAST(share * tot.t / c, 10.0)) AS BIGINT) AS fullc,
          |  floor((LEAST(share * tot.t / c, 10.0) - floor(LEAST(share * tot.t / c, 10.0))) * 1000) AS thr
          |FROM j, tot),
          |series AS (SELECT unnest(range(11)) AS copy_idx),
          |e AS (SELECT doc_id, stratum, fullc, thr, copy_idx
          |FROM l JOIN rr ON rr.stratum = l.lang_guess
          |CROSS JOIN series WHERE copy_idx <= fullc)
          |SELECT doc_id, stratum, CAST(copy_idx AS BIGINT) AS copy_idx FROM e
          |WHERE copy_idx < fullc
          |   OR CAST(${graft.ops.Sampling.hashPermilleSql("doc_id")} AS DOUBLE) < thr""".stripMargin),
    "x_epoch_mixture_tokens" ->
      (s"""WITH shares(stratum, share) AS (VALUES
          |  ('en', CAST(0.5 AS DOUBLE)), ('und', CAST(0.5 AS DOUBLE))),
          |l AS (SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess,
          |  ${TA.tokenCountSql("text")} AS ntok FROM documents),
          |counts AS (SELECT lang_guess AS stratum, CAST(SUM(ntok) AS DOUBLE) AS c FROM l GROUP BY 1),
          |j AS (SELECT counts.stratum, counts.c, shares.share FROM counts JOIN shares USING (stratum)),
          |tot AS (SELECT SUM(c) AS t FROM j),
          |rr AS (SELECT stratum,
          |  CAST(floor(LEAST(share * tot.t / c, 10.0)) AS BIGINT) AS fullc,
          |  floor((LEAST(share * tot.t / c, 10.0) - floor(LEAST(share * tot.t / c, 10.0))) * 1000) AS thr
          |FROM j, tot),
          |series AS (SELECT unnest(range(11)) AS copy_idx),
          |e AS (SELECT doc_id, stratum, fullc, thr, copy_idx
          |FROM l JOIN rr ON rr.stratum = l.lang_guess
          |CROSS JOIN series WHERE copy_idx <= fullc)
          |SELECT doc_id, stratum, CAST(copy_idx AS BIGINT) AS copy_idx FROM e
          |WHERE copy_idx < fullc
          |   OR CAST(${graft.ops.Sampling.hashPermilleSql("doc_id")} AS DOUBLE) < thr""".stripMargin),
    "x_temperature_mixture" ->
      (s"""WITH l AS (SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess FROM documents),
          |counts AS (SELECT lang_guess, CAST(count(*) AS DOUBLE) AS c FROM l GROUP BY 1),
          |cm AS (SELECT MIN(c) AS cmin FROM counts),
          |rates AS (SELECT lang_guess, round(power(cmin / c, 0.5) * 1000) AS thr FROM counts, cm)
          |SELECT doc_id, lang_guess FROM l JOIN rates USING (lang_guess)
          |WHERE CAST(${graft.ops.Sampling.hashPermilleSql("doc_id")} AS DOUBLE) < thr""".stripMargin),
    "x_corpus_diff" ->
      (raw"""WITH nxt0 AS (
            |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
            |  FROM documents WHERE doc_id % 10 != 0
            |  UNION ALL
            |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
            |prev AS (SELECT doc_id, ${TA.fingerprintSql("text")} AS fp_prev FROM documents),
            |nxt AS (SELECT doc_id, ${TA.fingerprintSql("text")} AS fp_next FROM nxt0),
            |d AS (SELECT doc_id,
            |  CASE WHEN fp_prev IS NULL THEN 'added'
            |       WHEN fp_next IS NULL THEN 'removed'
            |       WHEN fp_prev = fp_next THEN 'unchanged' ELSE 'changed' END AS status
            |  FROM prev FULL OUTER JOIN nxt USING (doc_id))
            |SELECT doc_id, status FROM d WHERE status != 'unchanged'""".stripMargin),
    "x_dsir_weights" -> graft.ops.Selection.dsirWeightsSql(
      "doc_id", "text", DsirRawSql, DsirTargetSql, DsirBuckets),
    "x_dsir_select" -> graft.ops.Selection.dsirSelectSql(
      "doc_id", "text", DsirRawSql, DsirTargetSql, DsirSelectK, DsirBuckets),
    "x_top_quality_per_lang" ->
      (s"""WITH scored AS (SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess,
          |  ${TA.qualityScoreSql("text")} AS quality FROM documents),
          |ranked AS (SELECT doc_id, lang_guess, quality,
          |  row_number() OVER (PARTITION BY lang_guess ORDER BY quality DESC, doc_id) AS rnk
          |FROM scored)
          |SELECT doc_id, lang_guess, quality FROM ranked WHERE rnk <= 5""".stripMargin),
    "x_embed_mean_pool" ->
      ("""WITH mp AS (SELECT label, unnest(embedding) AS v,
         |    unnest(range(len(embedding))) AS pos FROM embeddings)
         |SELECT label, CAST(pos AS INT) AS pos,
         |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
         |    / 1000000000.0 / CAST(COUNT(v) AS DOUBLE) AS mean_val
         |FROM mp GROUP BY 1, 2""".stripMargin),
    "x_curriculum_rank" ->
      (s"""WITH cscored AS (SELECT doc_id, ${TA.qualityScoreSql("text")} AS quality FROM documents)
          |SELECT doc_id, CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
          |FROM cscored""".stripMargin),
    "x_bm25_topk" -> graft.ops.Vocab.bm25TopKSql(Bm25QueryTerms, 20),
    // identical result contract as the live-scan form — one oracle
    "x_bm25_topk_indexed" -> graft.ops.Vocab.bm25TopKSql(Bm25QueryTerms, 20),
    "x_cluster_best_rep" ->
      (s"""WITH RECURSIVE edges AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8)})),
          |nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
          |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM edges UNION ALL SELECT id_b, id_a FROM edges),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
          |cbclusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |cbq AS (SELECT doc_id, ${TA.qualityScoreSql("text")} AS q FROM documents),
          |cbranked AS (SELECT c.cluster_id, c.doc_id,
          |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY cbq.q DESC, c.doc_id) AS rn
          |  FROM cbclusters c JOIN cbq USING (doc_id)),
          |cbreps AS (SELECT cluster_id, doc_id AS rep_id FROM cbranked WHERE rn = 1)
          |SELECT c.doc_id, c.cluster_id, r.rep_id
          |FROM cbclusters c JOIN cbreps r USING (cluster_id)""".stripMargin),
    "x_token_count" ->
      s"SELECT doc_id, ${TA.tokenCountSql("text")} AS n_tokens FROM documents",
    "x_bpe_token_count" ->
      s"SELECT doc_id, ${TA.bpeTokenCountSql("text")} AS n_bpe_tokens FROM documents",
    "x_lang_id" ->
      s"SELECT doc_id, ${TA.langIdSql("text")} AS lang_guess FROM documents",
    "x_quality_score" ->
      s"SELECT doc_id, ${TA.qualityScoreSql("text")} AS quality FROM documents",
    "x_fingerprint" ->
      s"SELECT doc_id, ${TA.fingerprintSql("text")} AS fp FROM documents",
    "x_fingerprint_dedup" ->
      (s"SELECT ${TA.fingerprintSql("text")} AS fp, MIN(doc_id) AS doc_id, " +
        "COUNT(*) AS n_copies FROM documents GROUP BY 1"),
    "x_exact_dup_groups" ->
      ("SELECT l_orderkey, COUNT(*) AS dup_count, MIN(l_linenumber) AS canonical_id " +
        "FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1"),
    "x_ngram_jaccard" -> jaccardSql(0.8),
    "x_embed_near_dup" ->
      ("""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM s a JOIN s b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3""".stripMargin),
    "x_cluster_diversify" ->
      ("""WITH lm0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16),
         |lm AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec FROM lm0),
         |scored AS (SELECT e.vec_id, lm.cell, list_cosine_similarity(e.embedding, lm.cvec) AS sim
         |  FROM embeddings e CROSS JOIN lm),
         |best AS (SELECT vec_id, cell, sim,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r FROM scored),
         |a AS (SELECT vec_id, cell, sim FROM best WHERE r = 1),
         |ranked AS (SELECT vec_id, cell,
         |  row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rnk,
         |  COUNT(*) OVER (PARTITION BY cell) AS n FROM a)
         |SELECT vec_id, CAST(cell AS INT) AS cell,
         |  CASE WHEN rnk <= ceil(0.25 * n) THEN 'dropped' ELSE 'kept' END AS action
         |FROM ranked""".stripMargin),
    "x_cluster_balanced_sample" ->
      (s"""WITH lm0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16),
          |lm AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec FROM lm0),
          |scored AS (SELECT e.vec_id, lm.cell, list_cosine_similarity(e.embedding, lm.cvec) AS sim
          |  FROM embeddings e CROSS JOIN lm),
          |best AS (SELECT vec_id, cell, sim,
          |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r FROM scored),
          |a AS (SELECT vec_id, cell FROM best WHERE r = 1),
          |counts AS (SELECT cell, COUNT(*) AS c FROM a GROUP BY 1),
          |cm AS (SELECT MIN(c) AS cmin FROM counts),
          |r2 AS (SELECT cell, CAST(cmin AS DOUBLE) / c AS rate FROM counts, cm)
          |SELECT vec_id, CAST(cell AS INT) AS cell FROM a JOIN r2 USING (cell)
          |WHERE CAST(${graft.ops.Sampling.hashPermilleSql("vec_id")} AS DOUBLE) < rate * 1000""".stripMargin),
    "x_ann_bruteforce" -> annTopKSql(5, withRank = true),
    "x_multimodal_features" ->
      ("SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "md5(text) AS checksum, " +
        "(CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 64) + 1 AS width, " +
        "(CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 64) + 1 AS height " +
        "FROM documents"),
    "x_corpus_stats" ->
      (s"""SELECT ${TA.langIdSql("text")} AS lang_guess, COUNT(*) AS n_docs,
          |CAST(SUM(${TA.tokenCountSql("text")}) AS BIGINT) AS total_tokens,
          |CAST(SUM(CAST(${TA.qualityScoreSql("text")} AS DECIMAL(18,6))) / COUNT(*) AS DOUBLE) AS avg_quality
          |FROM documents GROUP BY 1""".stripMargin),
    "x_resize" ->
      ("SELECT doc_id AS media_id, 32 AS width, 32 AS height, " +
        "CAST(16 AS BIGINT) AS n_resized_bytes FROM documents"),
    "x_frame_sample" ->
      ("""WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents),
         |f AS (SELECT media_id, n, greatest(1, n // 256) AS n_frames FROM m),
         |u AS (SELECT media_id, n, unnest(generate_series(0, n_frames - 1, 2)) AS i FROM f)
         |SELECT media_id, CAST(i AS INT) AS frame_idx,
         |  CAST(least(n, i * 256 + 256) - i * 256 AS BIGINT) AS n_frame_bytes
         |FROM u""".stripMargin),
    // INVARIANT for the three x_media_* oracles below: the documents
    // table is ASCII-only (testdata generator emits [\x20-\x79]), so
    // per-character ord(c) here equals the per-UTF-8-byte value the
    // Spark side packs (packPnm/packWav use octet_length/getBytes).
    // Non-ASCII text would diverge in both element count and values —
    // deriving the lists from encode(text) bytes would be required.
    "x_media_pnm_decode" ->
      ("""WITH a AS (SELECT doc_id AS media_id, [ord(c) FOR c IN split(text, '')] AS b FROM documents)
         |SELECT media_id, CAST(len(b) AS INT) AS width, 1 AS height,
         |  CAST(list_sum(b) AS DOUBLE) / CAST(len(b) AS DOUBLE) AS mean_lum,
         |  CAST(len(list_filter(b, x -> x // 32 = 0)) AS BIGINT) AS h0,
         |  CAST(len(list_filter(b, x -> x // 32 = 1)) AS BIGINT) AS h1,
         |  CAST(len(list_filter(b, x -> x // 32 = 2)) AS BIGINT) AS h2,
         |  CAST(len(list_filter(b, x -> x // 32 = 3)) AS BIGINT) AS h3,
         |  CAST(len(list_filter(b, x -> x // 32 = 4)) AS BIGINT) AS h4,
         |  CAST(len(list_filter(b, x -> x // 32 = 5)) AS BIGINT) AS h5,
         |  CAST(len(list_filter(b, x -> x // 32 = 6)) AS BIGINT) AS h6,
         |  CAST(len(list_filter(b, x -> x // 32 = 7)) AS BIGINT) AS h7
         |FROM a""".stripMargin),
    "x_media_pnm_resize" ->
      ("""WITH a AS (SELECT doc_id AS media_id, [ord(c) FOR c IN split(text, '')] AS b FROM documents),
         |r AS (SELECT media_id, [b[((x * len(b)) // 16) + 1] FOR x IN range(0, 16)] AS rb FROM a)
         |SELECT media_id, 16 AS width, 1 AS height,
         |  CAST(list_sum(rb) AS DOUBLE) / 16.0 AS mean_lum
         |FROM r""".stripMargin),
    "x_media_wav_features" ->
      ("""WITH a AS (SELECT doc_id AS media_id,
         |    [least((ord(c) - 96) * 256, 32767) FOR c IN split(text, '')] AS s FROM documents),
         |z AS (SELECT media_id, s, len(s) AS n,
         |    len([i FOR i IN range(2, len(s) + 1) IF s[i] * s[i-1] < 0]) AS zc FROM a)
         |SELECT media_id, CAST(n AS INT) AS width, 1 AS height,
         |  CAST(list_sum(s) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_sample,
         |  CAST(list_sum([abs(x) FOR x IN s]) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_abs,
         |  CAST(zc AS BIGINT) AS zero_crossings, CAST(8000 AS BIGINT) AS sample_rate
         |FROM z""".stripMargin),
    "x_media_phash" ->
      (phashSqlCte +
        "\nSELECT media_id, width, height, ph_hi, ph_lo FROM ph"),
    "x_media_audio_fp" ->
      (audioFpSqlCte() +
        "\nSELECT media_id, n_samples, ph_hi, ph_lo FROM ph"),
    "x_media_audio_fp_dedup" ->
      (audioFpSqlCte("""(SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin) +
        """
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) AS hamming
          |FROM ph a JOIN ph b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3""".stripMargin),
    "x_media_phash_dedup" ->
      (phashSqlCte +
        """
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) AS hamming
          |FROM ph a JOIN ph b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3""".stripMargin),
    "x_incremental_phash" ->
      (phashSqlCte +
        """
          |SELECT DISTINCT least(a.media_id, b.media_id) AS id_a,
          |  greatest(a.media_id, b.media_id) AS id_b,
          |  bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) AS hamming
          |FROM ph a JOIN ph b ON a.media_id < b.media_id
          |WHERE (a.media_id % 10 = 0 OR b.media_id % 10 = 0)
          |  AND bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3""".stripMargin),
    "x_split_assign" ->
      s"SELECT doc_id, ${Splits.splitAssignSql("doc_id")} AS split FROM documents",
    "x_split_leakage" ->
      (s"""WITH jp AS MATERIALIZED (SELECT * FROM (${jaccardSql(0.8)})),
          |sp AS (SELECT doc_id, ${Splits.splitAssignSql("doc_id")} AS split FROM documents)
          |SELECT id_a, id_b, jaccard, a.split AS split_a, b.split AS split_b
          |FROM jp JOIN sp a ON a.doc_id = id_a JOIN sp b ON b.doc_id = id_b
          |WHERE a.split <> b.split""".stripMargin),
    "x_split_quarantine" -> quarantineSql,
    "x_source_cap" ->
      Sampling.capPerGroupSql("documents", Seq("doc_id", "source"),
        "source", "doc_id", SourceCapShare),
    "x_url_normalize" ->
      (s"SELECT doc_id, url, ${TA.normalizeUrlSql("url")} AS url_norm " +
        s"FROM (SELECT doc_id, $syntheticUrlSql AS url FROM documents)"),
    "x_url_dedup" ->
      (s"""WITH u AS (SELECT doc_id, ${TA.normalizeUrlSql("url")} AS url_norm
          |  FROM (SELECT doc_id, $syntheticUrlSql AS url FROM documents))
          |SELECT url_norm, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
          |FROM u GROUP BY 1""".stripMargin),
    "x_keyword_filter" ->
      (s"SELECT doc_id, ${TA.keywordHitSql("text", KeywordBlockTokens)} AS blocked " +
        "FROM documents"),
    "x_url_blocklist" ->
      (s"""WITH u AS (SELECT doc_id, ${TA.normalizeUrlSql("url")} AS url_norm
          |  FROM (SELECT doc_id, $syntheticUrlSql AS url FROM documents))
          |SELECT doc_id, url_norm,
          |  ${TA.urlBlockedSql("url_norm", UrlBlockDomains, UrlBlockTokens)} AS blocked
          |FROM u""".stripMargin),
    "x_incremental_audio_fp" ->
      (audioFpSqlCte("""(SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin) +
        """
          |SELECT DISTINCT least(a.media_id, b.media_id) AS id_a,
          |  greatest(a.media_id, b.media_id) AS id_b,
          |  bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) AS hamming
          |FROM ph a JOIN ph b ON a.media_id < b.media_id
          |WHERE (a.media_id >= 1000000 OR b.media_id >= 1000000)
          |  AND bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3""".stripMargin)
  )

  /** [[graft.ops.Splits.quarantine]]'s oracle: the same evict-the-
    * lower-priority-side rule, the priority CASE generated from the
    * operator's own [[graft.ops.Splits.SplitPriority]] list.
    */
  private def quarantineSql: String = {
    val prio = (side: String) => Splits.SplitPriority.zipWithIndex
      .map { case (n, i) => s"WHEN '$n' THEN $i" }
      .mkString(s"CASE $side ", " ", s" ELSE ${Splits.SplitPriority.size} END")
    s"""WITH jp AS MATERIALIZED (SELECT id_a, id_b FROM (${jaccardSql(0.8)})),
       |sp AS (SELECT doc_id, ${Splits.splitAssignSql("doc_id")} AS split FROM documents),
       |crossed AS (SELECT id_a, id_b, a.split AS split_a, b.split AS split_b,
       |    ${prio("a.split")} AS pa, ${prio("b.split")} AS pb
       |  FROM jp JOIN sp a ON a.doc_id = id_a JOIN sp b ON b.doc_id = id_b
       |  WHERE a.split <> b.split),
       |ev AS (SELECT CASE WHEN pa > pb THEN id_a ELSE id_b END AS doc_id,
       |    CASE WHEN pa > pb THEN split_a ELSE split_b END AS split,
       |    CASE WHEN pa > pb THEN id_b ELSE id_a END AS leak_of
       |  FROM crossed)
       |SELECT doc_id, split, MIN(leak_of) AS leak_of FROM ev GROUP BY 1, 2""".stripMargin
  }
}
