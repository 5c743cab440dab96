package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * fingerprint (near-exact), n-gram Jaccard (exact similarity), and
  * MinHash+LSH / SimHash (approximate, the 100 TB path).
  *
  * Scale design notes:
  *   - everything is joins/groupBys on shuffle keys derived from content
  *     (gram, signature band, bucket) — no driver-side sets;
  *   - the Jaccard gram join caps per-gram fan-out with an optional
  *     document-frequency filter (hot shingles like "of the and" would
  *     otherwise quadratically explode the candidate pairs);
  *   - MinHash banding turns all-pairs similarity into an equi-join on
  *     (band, band-signature) — the canonical shuffle-friendly LSH.
  */
object Dedup {

  /** Exact duplicate groups: one row per duplicated key with its count
    * and canonical (min) representative id.
    */
  def exactDupGroups(df: DataFrame, key: Column, id: String): DataFrame =
    df.groupBy(key)
      .agg(count(lit(1)).as("dup_count"), min(col(id)).as("canonical_id"))
      .filter(col("dup_count") > 1)

  /** Near-exact dedup on the whitespace/case-normalized fingerprint. */
  def fingerprintDedup(df: DataFrame, text: Column, id: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(text).as("fp"))
      .agg(min(col(id)).as(id), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard similar pairs: (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    *
    * Candidate generation uses PPJoin-style prefix filtering (Bayardo
    * et al., "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et
    * al., PPJoin): with each doc's distinct grams sorted under one
    * global total order, two docs with Jaccard >= t MUST share a gram
    * within their first `|g| - ceil(t*|g|) + 1` grams — if all common
    * grams sat in a's suffix, the intersection would be at most
    * `ceil(t*|g_a|) - 1 < t*|g_a| <= t*|g_a ∪ g_b|`. So only prefixes
    * are exploded into the self-join, which shrinks the exploded rows
    * ~1/(1-t)× and the hot-gram quadratic fan-out ~1/(1-t)²×, while the
    * final `array_intersect` on the full gram arrays keeps the result
    * EXACT (verified pairs only, no false negatives by the bound above).
    *
    * @param maxDocFreq drop grams appearing in more than this many docs
    *                   (skew guard; 0 disables). NOTE: unlike the prefix
    *                   filter this changes semantics (pairs only similar
    *                   through dropped hot grams are lost).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      id: String,
      text: Column,
      n: Int,
      threshold: Double,
      maxDocFreq: Long = 0L,
      eager: Boolean = false,
      dfOrder: Boolean = false): DataFrame = {
    // One sorted-gram-array row per doc behind a shuffle boundary. The
    // exchange is structurally identical under every consumer (prefix
    // sides and the verification joins), but whether AQE's
    // ReuseExchange actually fires is a RUNTIME decision — r14's bench
    // caught the same binary swinging 6 → 340 CPU-s on this query
    // family when reuse didn't happen. `eager=true` pins the frame
    // with an eager localCheckpoint so every consumer reads the same
    // computed blocks deterministically. It stays opt-in because the
    // checkpoint executes the UPSTREAM plan immediately — standalone
    // queries want that; `corpus explain` (dry-run plan printing) and
    // lazily-composed pipeline stages must not.
    val gramArrays0 = docGramArrays(df, id, text, n)
    val gramArrays =
      if (eager) Pins.checkpoint(gramArrays0, "dedup.gramArrays") else gramArrays0
    // Verification: after pruning the candidate set is usually tiny, so
    // AQE turns these into broadcast joins that STREAM the gram arrays
    // (candidates sit behind the dedup exchange, so their true runtime
    // size drives the choice) — while a pathological dup-heavy corpus
    // with a huge candidate set degrades to a shuffle join instead of
    // OOMing the driver on a forced broadcast.
    verifyJaccard(
      ppjoinCandidates(gramArrays, threshold, maxDocFreq, dfOrder = dfOrder, eager = eager),
      gramArrays, threshold)
  }

  /** PPJoin candidate generation over [[docGramArrays]] output — every
    * (id_a < id_b) pair that can possibly reach `threshold`, by the
    * prefix + size + positional bounds (all necessary conditions, so
    * downstream verification stays exact).
    *
    * `dfOrder=true` switches the prefix order from lexical to a
    * frequency-aware one in the spirit of canonical PPJoin (Bayardo et
    * al. WWW'07 §3.1; Xiao et al. order tokens rarest-first): the
    * prefix bound holds under ANY consistent total order, and pushing
    * FREQUENT grams toward suffixes keeps a corpus-stopword shingle
    * ("of the and", df in the thousands) from fanning out
    * quadratically in the gram self-join. The implementation is
    * DEMOTE-ONLY rather than a full df sort — order by (isHot, gram)
    * where isHot = the gram's 64-bit hash appears in more than
    * [[DemoteDocFreq]] docs — because only hot grams threaten the
    * quadratic; rare grams' relative order is irrelevant. That choice
    * keeps the plan narrow: the df aggregation groups 8-byte hashes
    * (map-side combined, Zipf output), the hot SET is tiny and
    * broadcasts, and the per-doc window sorts within the existing
    * doc-partitioning with ZERO extra exchange — the full-df variant's
    * corpus-wide string enrich join measured super-linear at 30×
    * (PLANS.md r15). Unlike `maxDocFreq` (which DROPS hot grams and
    * can lose pairs), demotion is exact: (isHot(g), g) is a
    * deterministic total order on true grams, and a hash collision can
    * only demote a rare gram (a perf nit, never a lost pair). When
    * `maxDocFreq > 0` additionally DROPS hot grams, the drop set is
    * keyed on gram STRINGS exactly like the lexical branch — keying the
    * drop on hashes would let a colliding rare gram pool its df with a
    * hot one and be dropped (a lost pair, not a demotion).
    *
    * `eager=true` pins the extracted prefix frame with an eager
    * localCheckpoint: it feeds BOTH sides of the gram self-join below,
    * and whether AQE's ReuseExchange actually deduplicates the two
    * consumers is a runtime decision — the r15 driver sweep caught this
    * query family recomputing the whole prefix chain mid-sweep (455
    * CPU-s vs 19 isolated) even after the upstream gram arrays were
    * pinned. The frame is skinny (gram string + three ints per prefix
    * row), so the pin is cheap relative to the window+joins it freezes.
    */
  private[graft] def ppjoinCandidates(gramArrays: DataFrame, threshold: Double,
                                      maxDocFreq: Long,
                                      dfOrder: Boolean = false,
                                      eager: Boolean = false): DataFrame = {
    // Guard every ceil(t·x) against binary-float overshoot (0.8×5 =
    // 4.000…0002 would ceil to 5, silently shortening prefixes /
    // tightening bounds → FALSE NEGATIVES). Subtracting a sub-unit
    // epsilon can only relax the filters, never break exactness.
    val eps = 1e-9
    // prefix length |g| - ceil(t*|g|) + 1 (empty gram set -> no prefix)
    def prefixLenOf(n: Column): Column =
      (n - ceil(lit(threshold) * n - lit(eps)) + 1).cast("int")
    val filtered =
      if (dfOrder) {
        // hot-demoted prefix extraction: positions are taken in the
        // (isHot, gram) order over the SURVIVING grams; when maxDocFreq
        // additionally drops hot grams, positions shift down and the
        // prefix reaches deeper — both can only ADD candidates, so the
        // positional/size bounds stay necessary conditions (exact).
        // The demote-set df agg groups gram HASHES (8 bytes, map-side
        // combined); the > threshold survivors are the Zipf head —
        // tiny, so the mark join broadcasts and the doc-partitioned
        // exploded side never re-exchanges. At a scale where even the
        // hot SET outgrows a broadcast, swap the join for a Bloom
        // filter probe (functions/BloomContainsExpr) — still
        // deterministic, still exact by the same argument.
        val hot = gramArrays.select(explode(col("grams")).as("gram"))
          .select(xxhash64(col("gram")).as("gh"))
          .groupBy(col("gh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > DemoteDocFreq)
          .select(col("gh"), lit(true).as("__hot"))
        val exploded = gramArrays.select(col("doc"), size(col("grams")).as("n"),
            explode(col("grams")).as("gram"))
          .withColumn("gh", xxhash64(col("gram")))
        val marked = exploded.join(broadcast(hot), Seq("gh"), "left")
          .withColumn("__hot", coalesce(col("__hot"), lit(false)))
        // the DROP set (semantics-changing, like the lexical branch) is
        // keyed on gram strings, never hashes: pooled df under a hash
        // collision could drop a rare gram and LOSE a pair, whereas the
        // demote set above can at worst demote one (a perf nit)
        val dropped =
          if (maxDocFreq <= 0) marked
          else {
            val drop = gramArrays.select(explode(col("grams")).as("gram"))
              .groupBy(col("gram")).agg(count(lit(1)).as("df"))
              .filter(col("df") > maxDocFreq).select(col("gram"))
            marked.join(drop, Seq("gram"), "left_anti")
          }
        val byHotness = Window.partitionBy(col("doc")).orderBy(col("__hot"), col("gram"))
        dropped.withColumn("pos", (row_number().over(byHotness) - 1).cast("int"))
          .filter(col("pos") < greatest(prefixLenOf(col("n")), lit(0)))
          .select(col("gram"), col("doc"), col("n"), col("pos"))
      } else {
        val nGrams = size(col("grams"))
        val prefixes = gramArrays.select(
          col("doc"), nGrams.as("n"),
          posexplode(slice(col("grams"), lit(1), greatest(prefixLenOf(nGrams), lit(0)))).as(Seq("pos", "gram")))
        if (maxDocFreq <= 0) prefixes
        else {
          val hot = gramArrays.select(explode(col("grams")).as("gram"))
            .groupBy(col("gram")).agg(count(lit(1)).as("df"))
            .filter(col("df") > maxDocFreq).select(col("gram"))
          prefixes.join(hot, Seq("gram"), "left_anti")
        }
      }
    // Both self-join sides read the SAME prefix frame — pin it when the
    // caller asked for deterministic materialization (see Scaladoc).
    val prefixes0 = if (eager) Pins.checkpoint(filtered, "dedup.prefixes") else filtered
    // The self-join key is the gram's 64-bit hash, not the gram string:
    // shuffle rows carry 8 bytes instead of a shingle. A collision can
    // only ADD a candidate pair (equal grams always hash equal), and
    // every candidate is verified against the real gram arrays, so the
    // result stays exact.
    val gk = xxhash64(col("gram"))
    val l = prefixes0.select(gk.as("gk"), col("doc").as("id_a"),
      col("n").as("na"), col("pos").as("pa"))
    val r = prefixes0.select(gk.as("gk"), col("doc").as("id_b"),
      col("n").as("nb"), col("pos").as("pb"))
    // Candidate pruning (both filters are necessary conditions of
    // J >= t, so pruning stays exact):
    //   size filter  — |a∩b| <= min and |a∪b| >= max force
    //                  min(na,nb) >= ceil(t·max(na,nb));
    //   positional   — common grams all sort at/after the smallest
    //                  shared one (positions pa/pb), so the overlap is
    //                  at most min(na-pa, nb-pb), which must reach the
    //                  Jaccard-equivalent overlap ceil(t/(1+t)·(na+nb)).
    l.join(r, Seq("gk"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")) >=
        ceil(lit(threshold) * greatest(col("na"), col("nb")) - lit(eps)))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        min(col("pa")).as("pa"), min(col("pb")).as("pb"))
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >=
        ceil(lit(threshold / (1 + threshold)) * (col("na") + col("nb")) - lit(eps)))
      .select(col("id_a"), col("id_b"))
  }

  /** Sorted distinct word-n-gram array per doc behind a `doc`-keyed
    * shuffle boundary — the exchange is reused by every side that joins
    * back to it (PPJoin prefixes, LSH-candidate verification).
    */
  private[graft] def docGramArrays(df: DataFrame, id: String, text: Column, n: Int): DataFrame =
    df.select(col(id).as("doc"),
      TextAnalysis.wordNgramsSorted(text, n).as("grams"))
      .repartition(col("doc"))

  /** Exact-Jaccard verification of (id_a, id_b) candidate pairs against
    * the full gram arrays. Shared by the PPJoin path and the LSH
    * candidate path; join strategy is left to AQE (see callers).
    */
  private[graft] def verifyJaccard(candidates: DataFrame, gramArrays: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(gramArrays.select(col("doc").as("id_a"), col("grams").as("ga")), Seq("id_a"))
      .join(gramArrays.select(col("doc").as("id_b"), col("grams").as("gb")), Seq("id_b"))
      // r21: sorted-merge Jaccard (GramJaccardExpr) — gram arrays are
      // sorted-distinct by the docGramArrays invariant, so a two-pointer
      // walk replaces the per-pair array_intersect hash build; the
      // int-add/long-sub/double-div operation order is unchanged
      .withColumn("jaccard",
        org.apache.spark.sql.functions.call_function(
          "graft_jaccard_sorted", col("ga"), col("gb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash signature of the document's n-gram set: `numHashes`
    * independent functions simulated as `xxhash64(i, gram)`; element i
    * of the signature is the min over grams. Deterministic (xxhash64 is
    * seeded with the literal index column). Dispatches to the native
    * codegen'd `MinHashSigExpr` (registered via `GraftExtensions`),
    * which is NULL for docs with fewer than `n` tokens;
    * `minhashSignatureHof` is the pure-HOF reference formulation it is
    * parity-tested against.
    */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column =
    call_function("graft_minhash_sig", text, lit(n), lit(numHashes))

  private[graft] def minhashSignatureHof(text: Column, n: Int, numHashes: Int): Column =
    TextAnalysis.bound(TextAnalysis.wordNgramsDistinct(text, n)) { grams =>
      // h1 XOR rotl(h2, i) double-hash family, mirroring MinHashSigExpr
      // (Java shift semantics: shift distance is taken mod 64, so the
      // i=0 rotation degenerates correctly)
      transform(
        sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(grams, { g =>
          val h2 = xxhash64(lit(1L), g)
          val rot = call_function("shiftleft", h2, i.cast("int")).bitwiseOR(
            call_function("shiftrightunsigned", h2, (lit(64) - i).cast("int")))
          xxhash64(g).bitwiseXOR(rot)
        })))
    }

  /** LSH banding: (band index, hash of the signature slice) bucket keys.
    * Docs sharing any band bucket are candidate pairs — all-pairs
    * similarity becomes an equi-join.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(b, slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand))).as("bucket")))

  /** MinHash+LSH near-duplicate candidate pairs, verified with the
    * signature-level Jaccard estimate (fraction of agreeing minhashes).
    * Returns (id_a, id_b, est_jaccard >= threshold).
    */
  def minhashLshPairs(
      df: DataFrame,
      id: String,
      text: Column,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    // sigs is consumed three times (band self-join + both verify
    // sides); pinned for the same determinism reason as
    // [[minhashLshPrecisionUnion]] — AQE exchange reuse across the
    // consumers is a runtime gamble, the checkpoint is not.
    val sigs = Pins.checkpoint(minhashSigs(df, id, text, n, numHashes), "dedup.sigs")
    val candidates = bandCandidates(sigs, numHashes, bands)
    val est = size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b), x => x))
      .cast("double") / lit(numHashes.toDouble)
    // AQE decides broadcast-vs-shuffle from the candidates' measured
    // size (see ngramJaccardPairs — a forced broadcast would OOM on
    // dup-heavy corpora)
    candidates
      .join(sigs.select(col("doc").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** MinHash-LSH candidate pairs verified with the EXACT n-gram Jaccard
    * — the classic two-stage near-dup pipeline (Broder '97 banding for
    * candidates, WWW'07-style exact verification): every returned pair
    * is guaranteed to sit in [[ngramJaccardPairs]]' output, so precision
    * is exactly 1.0 and only recall depends on the banding parameters.
    * This is the DuckDB-checkable superset property the
    * `x_minhash_lsh_precision` oracle asserts (approx ∪ exact == exact).
    * Same scale shape as [[minhashLshPairs]]: skinny band equi-join for
    * candidates, AQE-decided joins back to the gram arrays for verify.
    */
  def minhashLshExactPairs(
      df: DataFrame,
      id: String,
      text: Column,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    // gram arrays feed both verify sides; sigs feed both band-join
    // sides — pinned like the rest of the family (see
    // [[minhashLshPrecisionUnion]]'s determinism note), with the two
    // independent pins materialized concurrently for the same
    // max-not-sum wall reason.
    val (gramArrays, sigs) = Par.both(
      Pins.checkpoint(docGramArrays(df, id, text, n), "dedup.gramArrays"),
      Pins.checkpoint(minhashSigs(df, id, text, n, numHashes), "dedup.sigs"))
    verifyJaccard(bandCandidates(sigs, numHashes, bands), gramArrays, threshold)
  }

  /** (doc, sig) frame behind a `doc`-keyed shuffle boundary — without
    * it the numHashes-wide signature expression is re-evaluated for
    * every exploded band row and again on each side of the self-join
    * (measured 30×+ slowdown at sf0.1); with it the identical subplan
    * on both join sides becomes a ReusedExchange. Docs with < n tokens
    * have no signature and are dropped.
    */
  private[graft] def minhashSigs(df: DataFrame, id: String, text: Column,
                                 n: Int, numHashes: Int): DataFrame =
    df.select(col(id).as("doc"), minhashSignature(text, n, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .repartition(col("doc"))

  /** Banding candidate pairs (id_a < id_b, deduped across bands) from a
    * [[minhashSigs]] frame — THE candidate generator every MinHash-LSH
    * variant shares (estimate-verified, exact-verified, precision
    * union). The band join is SKINNY — (doc, band, bucket) only;
    * dragging the signature through a ×bands-exploded shuffle would
    * move bands× the signature bytes for nothing.
    */
  private[graft] def bandCandidates(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val buckets = bandBuckets(sigs, numHashes, bands)
    buckets.as("l").join(buckets.as("r"), Seq("band", "bucket"))
      .filter(col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("id_a"), col("r.doc").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exploded (doc, band, bucket) LSH bucket rows from a [[minhashSigs]]
    * frame — the skinny per-doc index both the self-join candidate path
    * and the incremental batch-vs-corpus path join on. At 100 TB this
    * projection is what an ingest job PERSISTS (bucketed by (band,
    * bucket)): later increments join against it without touching the
    * corpus text again.
    */
  private[graft] def bandBuckets(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    sigs
      .select(col("doc"), explode(lshBands(col("sig"), bands, numHashes / bands)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.bucket"))
  }

  // ---- Incremental (batch-vs-corpus) dedup -----------------------------

  /** Incremental exact dedup: the `batch` rows that survive admission
    * against an already-ingested `corpus`. A batch row is dropped if its
    * normalized fingerprint already exists in the corpus; within the
    * batch, each fingerprint keeps its min-id representative. Returns
    * (id, fp) for the survivors.
    *
    * The 100 TB ingestion shape: one batch-side groupBy plus one
    * fingerprint-keyed left-anti join — the corpus is never self-paired
    * and its text is only ever reduced to the skinny fingerprint
    * projection, which a real deployment persists across ingests so each
    * increment costs O(batch), not O(corpus).
    */
  def incrementalExactDedup(corpus: DataFrame, batch: DataFrame,
                            id: String, text: Column,
                            corpusFps: Option[DataFrame] = None,
                            broadcastMaxRows: Long = ProbeMaxKeys): DataFrame = {
    val batchKeep0 = batch.groupBy(TextAnalysis.fingerprint(text).as("fp"))
      .agg(min(col(id)).as(id))
    corpusFps match {
      // the persisted fingerprint artifact (one `fp` column) — the
      // ingest-once path. Join shape matters at 100 TB: a plain
      // anti-join would hash-SHUFFLE the corpus-sized artifact on
      // every increment. Instead the artifact streams MAP-SIDE against
      // a broadcast of the batch's fps (inner join → the hit set,
      // batch-bounded), and the batch anti-joins that tiny set — the
      // only exchanges are batch-sized. The broadcast is guarded: a
      // batch too large to ship to every executor (driver memory, the
      // hard broadcast-size cap) falls back to the plain artifact
      // anti-join — at that batch size the corpus-side shuffle is
      // proportionally acceptable, and failing the increment is not.
      case Some(art) =>
        val batchKeep = Pins.checkpoint(batchKeep0, "dedup.batchKeep")
        if (batchKeep.count() <= broadcastMaxRows) {
          val hits = art.select(col("fp"))
            .join(broadcast(batchKeep.select(col("fp"))), Seq("fp"))
            .distinct()
          batchKeep.join(hits, Seq("fp"), "left_anti").select(col(id), col("fp"))
        } else
          batchKeep.join(art.select(col("fp")), Seq("fp"), "left_anti")
            .select(col(id), col("fp"))
      // no artifact: reduce the corpus text to its fingerprint set
      // once (the O(corpus) pass a real deployment persists)
      case None =>
        batchKeep0.join(
            corpus.select(TextAnalysis.fingerprint(text).as("fp")).distinct(),
            Seq("fp"), "left_anti")
          .select(col(id), col("fp"))
    }
  }

  /** Default cap on probe-set size for the map-side index probes below:
    * keys/fingerprints up to this count broadcast (a hash set every
    * executor holds — at 2M skinny rows, tens of MB); above it the
    * probe degrades gracefully to a plain join the optimizer plans.
    */
  val ProbeMaxKeys: Long = 2000000L

  /** Map-side probe of a persisted corpus-sized index: restrict the
    * index scan to the batch's own bucket keys by inner-joining it
    * against a BROADCAST of those keys BEFORE candidate generation —
    * the index then streams through a broadcast-hash join with ZERO
    * index-side Exchange, and everything downstream is bounded by
    * batch size × collision rate. Without this, once the batch side
    * outgrows the auto-broadcast threshold, the candidate equi-join
    * re-shuffles the corpus-sized index on EVERY increment — the exact
    * cost the fingerprint path engineered away. The probe is guarded
    * like the fingerprint broadcast: a batch whose distinct key set
    * exceeds `maxKeys` passes the index through un-probed (plain join,
    * AQE decides — or the caller supplies a bucketed index, whose
    * layout already makes the join shuffle-free on this side).
    */
  private[graft] def probeIndex(index: DataFrame, batchRows: DataFrame,
                                keyCols: Seq[String],
                                maxKeys: Long = ProbeMaxKeys): DataFrame = {
    val keys = Pins.checkpoint(batchRows.select(keyCols.map(col): _*).distinct(), "dedup.keys")
    if (keys.count() <= maxKeys) index.join(broadcast(keys), keyCols) else index
  }

  /** The persistable LSH index of a corpus: exploded (doc, band,
    * bucket) rows. An ingest job writes this once (bucketed by (band,
    * bucket)); every later increment joins against it via
    * [[incrementalNearDupPairs]]'s `corpusIndex` instead of re-hashing
    * 100 TB of corpus text.
    */
  def buildLshIndex(df: DataFrame, id: String, text: Column,
                    n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    // stamp the banding parameters into the band column's metadata —
    // StructField metadata survives a parquet write/read, so a later
    // increment can refuse an index built under different parameters
    // instead of silently joining incompatible bucket spaces
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.n", n.toLong)
      .putLong("graft.numHashes", numHashes.toLong)
      .putLong("graft.bands", bands.toLong)
      .build()
    bandBuckets(minhashSigs(df, id, text, n, numHashes), numHashes, bands)
      .withColumn("band", col("band").as("band", meta))
  }

  /** Incremental near-duplicate pairs: MinHash-LSH candidates restricted
    * to pairs that TOUCH the new batch — batch×corpus and batch×batch,
    * never corpus×corpus — verified with the EXACT n-gram Jaccard, so
    * every returned pair is a true near-dup (precision 1.0; recall is
    * the banding's, as in [[minhashLshExactPairs]]). Ids must be
    * disjoint across the two frames.
    *
    * Scale shape: the batch's skinny (doc, band, bucket) rows equi-join
    * the corpus's persisted [[bandBuckets]] index plus their own — the
    * candidate volume scales with batch size × bucket collision rate,
    * NOT corpus²; corpus gram arrays are only materialized for docs that
    * actually collide (the verify join is AQE-decided, candidates side
    * first).
    */
  def incrementalNearDupPairs(
      corpus: DataFrame,
      batch: DataFrame,
      id: String,
      text: Column,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    // an index built under different banding parameters would join
    // incompatible bucket spaces and silently admit near-dups — the
    // stamp is REQUIRED, not best-effort: a projection/transformation
    // that drops StructField metadata (or an index built by other
    // tooling) must fail loudly here, because the silent failure mode
    // is lost recall, which nothing downstream can detect
    corpusIndex.foreach { idx =>
      val m = idx.schema("band").metadata
      require(m.contains("graft.bands"),
        "corpusIndex lacks the buildLshIndex parameter stamp — supply the frame " +
          "produced by buildLshIndex (or its parquet reread) without projections " +
          "that strip column metadata")
      val (in, ih, ib) =
        (m.getLong("graft.n"), m.getLong("graft.numHashes"), m.getLong("graft.bands"))
      require(in == n && ih == numHashes && ib == bands,
        s"corpusIndex was built with (n=$in, numHashes=$ih, bands=$ib) " +
          s"but this increment uses (n=$n, numHashes=$numHashes, bands=$bands)")
    }
    // checkpointed (skinny — three longs a row): read by the probe-key
    // distinct, the self-join, and the cross join below
    val batchBuckets = Pins.checkpoint(
      bandBuckets(minhashSigs(batch, id, text, n, numHashes), numHashes, bands),
      "dedup.batchBuckets")
    // prefer the persisted index (the 100 TB path — see buildLshIndex);
    // recompute from corpus text only when none is supplied. A supplied
    // index is PROBED map-side (see [[probeIndex]]) so the candidate
    // join never re-shuffles the corpus-sized side — this holds even
    // for the plain-parquet layout the CLI admission persists, not just
    // the bucketed one (OpsSpec asserts zero index-side Exchange on
    // both, with AQE and auto-broadcast disabled).
    val corpusBuckets = corpusIndex match {
      case Some(idx) =>
        probeIndex(idx.select(col("doc"), col("band"), col("bucket")),
          batchBuckets, Seq("band", "bucket"))
      case None => buildLshIndex(corpus, id, text, n, numHashes, bands)
    }
    // Materialized once (skinny — two longs per pair): read again by
    // the colliding-doc filter below and by the verify joins.
    val candidates = Pins.checkpoint(
      incrementalCandidates(batchBuckets, corpusBuckets), "dedup.candidates")
    // gram arrays (the expensive explode + shuffle) ONLY for docs that
    // actually collide — a semi-join keeps verification collision-
    // bounded instead of re-gramming the whole corpus every increment
    val collidingIds = candidates.select(col("id_a").as(id))
      .union(candidates.select(col("id_b").as(id))).distinct()
    val colliding = batch.unionByName(corpus).join(collidingIds, Seq(id), "left_semi")
    verifyJaccard(candidates, docGramArrays(colliding, id, text, n), threshold)
  }

  /** Candidate pairs touching the batch (canonicalized id_a < id_b,
    * deduped), from the two frames' (doc, band, bucket) rows.
    *
    * batch×batch and batch×corpus are joined SEPARATELY instead of the
    * equivalent batch×(batch ∪ corpus): a union node discards the
    * corpus index's physical layout, so a (band, bucket)-bucketed
    * persisted index ([[buildLshIndex]] + `Bucketing.writeBucketed`)
    * would be forced through an Exchange on every increment — at
    * 100 TB that re-shuffles the corpus-sized side to admit a
    * batch-sized one. Joined directly, the bucketed index streams
    * bucket-to-bucket with ZERO index-side shuffle; only the batch side
    * exchanges (OpsSpec-asserted on the executed plan). The layout is
    * also written pre-sorted one-file-per-bucket, which elides the
    * read-side Sort when `spark.sql.legacy.bucketedTableScan.
    * outputOrdering` is enabled (see `Bucketing.writeBucketed`). The
    * pair set is
    * identical either way: canonicalization collapses the doubled
    * batch×batch directions the union form produced.
    */
  private[graft] def incrementalCandidates(batchBuckets: DataFrame,
                                           corpusBuckets: DataFrame): DataFrame = {
    // batch×batch self-join: one orientation (doc <) up front, so each
    // colliding pair is emitted once — least/greatest canonicalization
    // would double this branch's pre-dedup volume. The batch×corpus
    // branch keeps least/greatest: there the sides are distinct frames
    // and the orientation of a collision is arbitrary.
    val self = batchBuckets.as("l").join(batchBuckets.as("r"), Seq("band", "bucket"))
      .filter(col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("id_a"), col("r.doc").as("id_b"))
    val cross = batchBuckets.as("l")
      .join(corpusBuckets.select(col("doc"), col("band"), col("bucket")).as("r"),
        Seq("band", "bucket"))
      .filter(col("l.doc") =!= col("r.doc"))
      .select(least(col("l.doc"), col("r.doc")).as("id_a"),
        greatest(col("l.doc"), col("r.doc")).as("id_b"))
    self.union(cross).dropDuplicates("id_a", "id_b")
  }

  /** The `x_minhash_lsh_precision` plan: (LSH band candidates ∪ PPJoin
    * candidates) verified ONCE with exact Jaccard over one shared
    * gram-array exchange. Because PPJoin candidates are a superset of
    * every pair at `threshold`, the result equals
    * `minhashLshExactPairs ∪ ngramJaccardPairs` — but verification
    * joins and the gram shuffle run once instead of twice.
    */
  def minhashLshPrecisionUnion(
      df: DataFrame,
      id: String,
      text: Column,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    // EVERY multiply-consumed or expensive-to-recompute frame in this
    // plan is pinned with an eager localCheckpoint — relying on AQE
    // exchange reuse here was the r14 instability (5.96 vs 339.8 CPU-s,
    // same binary), and r15's partial pin (gram arrays only) STILL left
    // a mid-sweep recompute mode the driver measured at 455 CPU-s vs 19
    // isolated: the band-candidate side and the dfOrder prefix frame
    // were re-derived when session state (prior queries' AQE decisions,
    // codegen cache) steered reuse away. Pins, in dependency order:
    //   gramArrays — feeds the PPJoin prefixes AND both verify joins;
    //   sigs       — feeds both sides of the band-bucket self-join;
    //   prefix frame (inside ppjoinCandidates, eager=true) — feeds both
    //                sides of the gram self-join.
    // The candidates union itself is consumed exactly ONCE (verify's
    // first join), so it needs no pin — every multiply-consumed frame
    // beneath it is already frozen, and each localCheckpoint is a
    // serializing job barrier that costs wall time. All three pinned
    // frames are skinny (ids + hashes + gram arrays once), so the pins
    // cost far less than one recomputation of any input.
    // The pins form two INDEPENDENT chains — (gram arrays → prefix
    // frame) and (signatures) — so they materialize concurrently:
    // each eager localCheckpoint is a blocking job barrier, and run
    // serially their latencies add while the cluster sits half-idle.
    // Submitted from two threads, Spark schedules both jobs into the
    // same executor pool and the wall cost is max(chain), not
    // sum(chain). Exactness and determinism are unaffected — the same
    // frames are pinned, only their materialization overlaps.
    val sigsF = Par.future(
      Pins.checkpoint(minhashSigs(df, id, text, n, numHashes), "dedup.sigs"))
    val gramArrays = Pins.checkpoint(docGramArrays(df, id, text, n), "dedup.gramArrays")
    // Both generators dedup internally, so the union carries at most 2
    // copies of any pair — verifying the ≤2× candidates and deduping the
    // (tiny) verified output costs one narrow dedup of the result set
    // instead of a full extra shuffle of the widest candidate
    // intermediate. The PPJoin side runs with the hot-demoted prefix
    // order (see [[ppjoinCandidates]]) — the EXACT form of the
    // hot-gram guard, so the union still equals verified-LSH ∪ exact
    // and the precision oracle holds.
    val pp = ppjoinCandidates(gramArrays, threshold, maxDocFreq = 0L,
      dfOrder = true, eager = true)
    val sigs = Par.await(sigsF)
    val candidates = bandCandidates(sigs, numHashes, bands).union(pp)
    verifyJaccard(candidates, gramArrays, threshold)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components over near-duplicate pairs: (doc_id,
    * cluster_id) for every doc appearing in `pairs`, where cluster_id is
    * the component's minimum doc id — the canonical representative a
    * dedup pipeline keeps while dropping the rest ([[clusterDropList]]).
    *
    * Algorithm: min-label propagation WITH pointer doubling (the
    * Shiloach–Vishkin shortcutting move, the same accelerant behind
    * large-star/small-star CC — Kiveris et al., SoCC'14). Each round
    * every node takes the min of (a) its own label, (b) its neighbors'
    * labels, and (c) its label's label — labels are node ids, so step
    * (c) is one more equi-join that halves the remaining pointer
    * distance to the component minimum. Neighbor flooding alone needs
    * O(eccentricity) rounds — fine for clique-ish LSH output, but
    * [[winnowDupPairs]] (copied-passage chains: A∼B∼C without A∼C)
    * legitimately emits long PATHS; with shortcutting a diameter-d
    * chain converges in O(log d) rounds (measured: 50-node chain in 7,
    * see OpsSpec). Per round: two equi-joins + one min-aggregation, with
    * `localCheckpoint` truncating the lineage (same pattern as the
    * cyclic FK closure — without it round d replans the whole prior
    * join tree). Nothing ever sits on the driver; labels live behind a
    * shuffle at every step.
    *
    * @param maxRounds trap instead of silently wrong labels if the
    *                  budget is outrun — with doubling this bounds the
    *                  reachable diameter at ~2^maxRounds, so the default
    *                  covers any physically possible component
    */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // materialize the (possibly expensive) pair plan ONCE — a union of
    // two projections of the raw plan would execute it twice; both
    // symmetric directions then read the checkpointed blocks every round.
    // Each round releases the labels it superseded, and the pairs are
    // released once the labels converge — the same lifecycle as the
    // cyclic FK closure's per-level frontiers.
    val p = Pins.checkpoint(pairs.select(col("id_a"), col("id_b")), "dedup.clusters.pairs")
    val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    // Fused round 1 (r20 optimization): from the identity labeling, the
    // first loop round always computes exactly min(id, min neighbor id)
    // — the grand-label lookup degenerates (label(label(i)) == i) — so
    // initialize with that directly from ONE groupBy over sym instead of
    // paying the full round's two joins + aggregation + barrier + probe.
    // The remaining label sequence is identical (round r here == round
    // r+1 before), so the fixpoint — and the output — is unchanged;
    // the round budget buys the same reachable diameter one doubling
    // earlier.
    var pinned = Pins.checkpoint(sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("label")), "dedup.clusters.labels")
    var labels = pinned
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"nearDupClusters did not converge in $maxRounds rounds — pathological pair chain?")
      val neighborMin = sym
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nlabel"))
      // pointer doubling: my label is a node id, so look up ITS label —
      // the min-label tree shortcuts toward the root, halving the
      // remaining distance each round (a left join: the root's label is
      // itself, and labels of nodes outside `sym` resolve to null)
      val grandMin = labels
        .join(labels.select(col("id").as("label"), col("label").as("glabel")), Seq("label"))
        .select(col("id"), col("glabel"))
      // the OLD label rides inside the checkpointed frame, so the
      // convergence test is a narrow filter over the just-pinned blocks
      // instead of an extra equi-join (one shuffle per round saved —
      // across the ~log d rounds and the six capstones that use this
      // loop, real wall time)
      val next = Pins.checkpoint(labels
        .join(neighborMin, Seq("id"), "left")
        .join(grandMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"),
            coalesce(col("nlabel"), col("label")),
            coalesce(col("glabel"), col("label"))).as("label"),
          col("label").as("old")), "dedup.clusters.labels")
      converged = next.filter(col("label") =!= col("old")).isEmpty
      Pins.release(pinned)
      pinned = next
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    Pins.release(p)
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The ids a dedup pass DROPS: every clustered doc that is not its
    * component's canonical (min-id) representative.
    */
  def clusterDropList(clusters: DataFrame): DataFrame =
    clusters.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))

  /** Quality-aware representative per near-dup component: instead of the
    * arbitrary min-id canonical, keep each cluster's BEST member under
    * `score` (ties to the lower id) — the curation-grade dedup verdict
    * (near-dup groups usually hold one clean original plus mangled
    * copies; min-id keeps whichever crawled first, this keeps the
    * cleanest). Emits every clustered doc labeled with its component
    * and the component's chosen `rep_id`; the drop list is the rows
    * with `doc_id != rep_id`.
    *
    * Scale shape: [[nearDupClusters]]'s pointer-doubling labels, one
    * join to the (id, score) frame on the doc key, and a per-cluster
    * `max_by` aggregation — components are tiny relative to the corpus
    * (they ARE the duplicates), so the agg's cluster-key shuffle is
    * balanced by construction; the winner table joins back on the
    * cluster key. No window over the corpus, nothing on the driver.
    *
    * @param quality frame holding `(idCol, scoreCol)` — extra columns
    *                are ignored; `score` must be cross-engine
    *                deterministic if the output feeds an oracle check
    *                (e.g. [[TextAnalysis.qualityScore]])
    */
  def clusterRepresentatives(pairs: DataFrame, quality: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    val clusters = nearDupClusters(pairs)
    val scored = clusters.join(
      quality.select(col(idCol).as("doc_id"), col(scoreCol).as("__graft_q")), Seq("doc_id"))
    // min_by over a (-score, id) struct: one agg, highest score wins and
    // ties go to the lowest id under the id type's OWN ordering — the
    // score is numeric by contract so negating it is safe, while the id
    // may be a string (config-driven id_column), so it must never be
    // negated (UnaryMinus on a string casts to double → null → a
    // nondeterministic representative among equal-quality members)
    val reps = scored.groupBy(col("cluster_id"))
      .agg(min_by(col("doc_id"),
        struct((-col("__graft_q").cast("double")).as("negq"), col("doc_id"))).as("rep_id"))
    clusters.join(reps, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, majority vote of
    * the token-hash bits. Near-dups have small Hamming distance.
    * Dispatches to the native codegen'd `SimHash64Expr` (registered via
    * `GraftExtensions`); `simhash64Hof` is the pure-HOF reference
    * formulation the expression is parity-tested against.
    */
  def simhash64(text: Column): Column =
    call_function("graft_simhash64", text)

  private[graft] def simhash64Hof(text: Column): Column =
    simhashFromHashes(
      transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t)), 64)

  /** The simhash fold itself — per bit, majority vote over the token
    * hashes (votes > 0 sets the bit). ONE implementation shared by the
    * xxhash64 HOF reference and the md5-portable variant, so the
    * majority-vote semantics can't silently diverge between them.
    */
  private def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(
        acc,
        sequence(lit(0), lit(bits - 1)),
        (v, b) => v + when(call_function("shiftright", h, b.cast("int")).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b.cast("int"))).otherwise(lit(0L))),
      lit(0L),
      (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Substring-overlap pairs via winnowing fingerprints (the MOSS
    * scheme / Lee et al.'s "Deduplicating Training Data" substring-dup
    * signal): (id_a, id_b, n_shared) for doc pairs sharing at least
    * `minShared` fingerprints. Because winnowing guarantees two docs
    * sharing ≥ w+k-1 consecutive tokens share a print, this catches
    * COPIED PASSAGES inside otherwise-different documents — the dup
    * class whole-document Jaccard misses.
    *
    * Scale shape: same as every dedup here — explode the per-doc prints
    * once, equi-join on the print key, count per pair; never all-pairs.
    * `maxDocFreq` (0 = off) drops prints appearing in more than that
    * many docs — boilerplate passages shared by thousands of docs would
    * otherwise contribute a quadratic pair fan-out (same skew guard and
    * same semantics caveat as [[ngramJaccardPairs]]'s).
    *
    * The default cap is MEASURED, not guessed (at 30× duplication,
    * PLANS.md): print df tracks duplication factor × base-df, with
    * p999 = 120 and max = 180 on a corpus where EVERY doc has 30
    * near-identical twins; 128 sits above that p999 (99.95% of
    * true pairs kept under extreme duplication) while capping a df-D
    * boilerplate print's fan-out at 128²/2 ≈ 8k pair rows instead of
    * D²/2 — the 10⁵-doc license-header print that would otherwise emit
    * 5×10⁹ rows. Corpora with legitimate >128-fold passage duplication
    * should raise it; 0 disables.
    */
  val WinnowDefaultMaxDocFreq: Long = 128L

  /** Document-frequency threshold above which [[ppjoinCandidates]]'
    * `dfOrder` mode DEMOTES a gram to prefix suffixes (never drops it
    * — exact, unlike the winnow cap above). Same Zipf reasoning, same
    * measured knee (PLANS.md): a gram in ≤128 docs can fan out at
    * most 128²/2 candidate rows; the demotion exists for the unbounded
    * boilerplate head beyond that.
    */
  val DemoteDocFreq: Long = 128L

  def winnowDupPairs(
      df: DataFrame,
      id: String,
      text: Column,
      k: Int = 4,
      w: Int = 4,
      minShared: Int = 2,
      maxDocFreq: Long = WinnowDefaultMaxDocFreq): DataFrame = {
    // r20: pinned — the print frame feeds the hot-print aggregation,
    // the anti-join, and BOTH self-join sides; relying on ReusedExchange
    // to collapse the identical subtrees is the same runtime gamble the
    // FK-closure audit measured NOT firing (executed plan, zero reuse),
    // and each replay re-runs the rolling-hash fingerprint pass. The
    // pin is skinny: (doc, 64-bit print) rows.
    val prints = Pins.checkpoint(df.select(col(id).as("doc"),
        explode(TextAnalysis.winnowFingerprints(text, k, w)).as("print")), "dedup.prints")
    val filtered =
      if (maxDocFreq <= 0) prints
      else {
        val hot = prints.groupBy(col("print")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select(col("print"))
        prints.join(hot, Seq("print"), "left_anti")
      }
    // prints are distinct within a doc (winnowFingerprints dedups), so
    // the per-pair row count IS the shared-print count
    filtered.as("l").join(filtered.as("r"), Seq("print"))
      .filter(col("l.doc") < col("r.doc"))
      .groupBy(col("l.doc").as("id_a"), col("r.doc").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** ExactSubstr-style duplicated-span scrub (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * the ExactSubstr variant): REWRITE every document by removing each
    * k-token span that occurs at least `minCount` times across the
    * corpus (every occurrence counts, including repeats within one
    * document), keeping the tokens not covered by any duplicated span.
    * Complements [[winnowDupPairs]], which only *detects* copied
    * passages — this is the removal step. Operates on the normalized
    * token stream (lower + whitespace split, the gram family's
    * convention); returns (doc, scrubbed, n_removed).
    *
    * Scale shape: one gram-hash count shuffle (the duplication
    * verdict), one hash-keyed join back to gram start positions, one
    * doc-keyed aggregation of covered starts; the coverage filter is a
    * narrow higher-order expression over the token array. Document
    * text never crosses a shuffle — only (doc, position, 60-bit hash)
    * rows do. Gram identity is the md5-prefix hash, not the gram
    * string: skinny in the exchanges, cross-engine portable, and a
    * false removal needs a 60-bit collision. The per-doc covered-start
    * set is bounded by the doc's own token count, so the aggregate
    * state is O(doc length), never corpus-sized.
    */
  def exactSubstrScrub(
      df: DataFrame, id: String, text: Column,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    require(k > 0, "span length k must be positive")
    require(minCount >= 2, "minCount < 2 would scrub every token")
    // r20 note: grams feeds the duplication count AND the coverage join
    // (two md5-pass subtrees), but it stays DELIBERATELY unpinned —
    // the rebuild tail's left join is against a doc-unique aggregate,
    // so a consumer that never reads the scrubbed text (a row count, a
    // doc-id projection) lets Catalyst eliminate the join and skip the
    // gram work entirely; an eager pin would force that work on every
    // consumer (measured +1.0 s on the count-shaped bench form). The
    // rule applied round-wide: only pin subtrees every consumer must
    // evaluate.
    val grams = df.select(col(id).as("doc"),
        posexplode(TextAnalysis.wordNgrams(text, k)).as(Seq("i", "gram")))
      .select(col("doc"), col("i"), TextAnalysis.md5PrefixLong(col("gram"), 15).as("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount).select(col("h"))
    val covered = grams.join(dup, Seq("h"))
      .groupBy(col("doc")).agg(collect_set(col("i")).as("starts"))
    scrubCoveredSpans(df, id, text, covered, k)
  }

  /** Shared rebuild tail of the span scrubbers: drop every token
    * covered by a flagged k-span start, rejoin, count removals. Docs
    * with no flagged span pass through via the left join.
    */
  private def scrubCoveredSpans(
      df: DataFrame, id: String, text: Column,
      covered: DataFrame, k: Int): DataFrame =
    df.select(col(id).as("doc"), TextAnalysis.tokens(text).as("toks"))
      .join(covered, Seq("doc"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(col("toks"),
        (_, j) => !exists(col("starts"), s => s <= j && j < s + lit(k))))
      .select(col("doc"), array_join(col("kept"), " ").as("scrubbed"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"))

  /** Span-level decontamination (the GPT-3 recipe — Brown et al. 2020,
    * Appendix C: training documents are kept but every span overlapping
    * an eval-set n-gram is excised): cut each k-token span of a corpus
    * doc whose gram appears ANYWHERE in the benchmark set. The
    * complement of [[contaminationHits]]'s drop-the-doc verdict — used
    * when the corpus is too valuable to discard over a quoted line.
    *
    * Scale shape: corpus grams explode once with positions; the
    * benchmark's distinct gram hashes are small by nature and meet them
    * in a broadcast equi-join; covered starts aggregate per doc
    * (skinny: doc + int set); the rebuild is the same left-join +
    * narrow filter as [[exactSubstrScrub]] — document text crosses no
    * shuffle beyond the gram explode.
    */
  def decontaminationScrub(
      corpus: DataFrame, id: String, corpusText: Column,
      benchmark: DataFrame, benchText: Column, k: Int): DataFrame = {
    require(k > 0, "span length k must be positive")
    val grams = corpus.select(col(id).as("doc"),
        posexplode(TextAnalysis.wordNgrams(corpusText, k)).as(Seq("i", "gram")))
      .select(col("doc"), col("i"), TextAnalysis.md5PrefixLong(col("gram"), 15).as("h"))
    val bg = benchmark
      .select(explode(TextAnalysis.wordNgramsDistinct(benchText, k)).as("gram"))
      .select(TextAnalysis.md5PrefixLong(col("gram"), 15).as("h"))
      .distinct()
    val covered = grams.join(broadcast(bg), Seq("h"))
      .groupBy(col("doc")).agg(collect_set(col("i")).as("starts"))
    scrubCoveredSpans(corpus, id, corpusText, covered, k)
  }

  /** C4/CCNet-style line-level dedup (boilerplate removal): every LINE
    * whose corpus-wide document frequency reaches `minDocFreq` is cut
    * from all of its documents — the navigation/footer/cookie-banner
    * class that document-level dedup never sees, removed the way C4
    * removed its "three-sentence spans seen more than once" and CCNet
    * its duplicated paragraphs. Documents are preserved (a doc whose
    * every line is boilerplate survives with empty text); line order is
    * restored on rebuild.
    *
    * Scale shape: explode lines once; the doc-frequency count is a
    * (doc, line)-distinct then a line-keyed count agg (map-side
    * partial); hot-line removal is a line-keyed LEFT ANTI equi-join
    * (the hot set is corpus-wide boilerplate — small, broadcast under
    * AQE); the ordered rebuild groups by doc with an in-group
    * array_sort, never a global sort. Document text crosses exactly
    * the explode and the rebuild shuffles, as line-sized rows.
    */
  def lineDedup(
      df: DataFrame, id: String, text: Column, minDocFreq: Int): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq < 2 would drop every line")
    // null id/text rows drop entirely (the corpus-shaping convention) —
    // without the guard a null-text doc would surface half-labeled
    // (empty rebuild, null counts) through the doc-preserving left join
    val base = df.select(col(id).as("doc"), text.as("__text"))
      .filter(col("doc").isNotNull && col("__text").isNotNull)
    val lines = base.select(col("doc"),
      posexplode(split(col("__text"), "\n")).as(Seq("line_no", "line")))
    val hot = lines.select(col("doc"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col("line"))
    val kept = lines.join(hot, Seq("line"), "left_anti")
      .groupBy(col("doc"))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line"))).as("text"),
        count(lit(1)).as("n_lines_kept"))
    base.select(col("doc"), (size(split(col("__text"), "\n"))).cast("long").as("n_lines"))
      .join(kept, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("n_lines") - coalesce(col("n_lines_kept"), lit(0L))).as("n_lines_dropped"))
  }

  /** WITHIN-document duplicate-line removal — C4's "discard duplicate
    * lines within a page" rule, the in-doc complement of [[lineDedup]]:
    * every repeat of a line inside one document is cut, the FIRST
    * occurrence stays, order is preserved on rebuild. Pure per-doc
    * work: explode, a (doc,line)-keyed min-position agg, ordered
    * rebuild — two doc-keyed shuffles of line-sized rows, no corpus-
    * wide state at all.
    */
  def lineDedupWithinDoc(df: DataFrame, id: String, text: Column): DataFrame = {
    val base = df.select(col(id).as("doc"), text.as("__text"))
      .filter(col("doc").isNotNull && col("__text").isNotNull)
    val firsts = base.select(col("doc"),
        posexplode(split(col("__text"), "\n")).as(Seq("line_no", "line")))
      .groupBy(col("doc"), col("line")).agg(min(col("line_no")).as("line_no"))
    val kept = firsts.groupBy(col("doc"))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line"))).as("text"),
        count(lit(1)).as("n_lines_kept"))
    base.select(col("doc"), (size(split(col("__text"), "\n"))).cast("long").as("n_lines"))
      .join(kept, Seq("doc"))
      .select(col("doc"), col("text"), col("n_lines_kept"),
        (col("n_lines") - col("n_lines_kept")).as("n_lines_dropped"))
  }

  /** Decontamination (benchmark-overlap) sweep: for each corpus doc,
    * the number of DISTINCT word n-grams it shares with a benchmark
    * set — the standard "did the eval set leak into the training
    * corpus" check run before any training job. Scale shape: each side
    * explodes its distinct grams once and they meet in a gram-keyed
    * equi-join (the benchmark side is small by nature and broadcasts
    * under AQE); document text never crosses a shuffle. Returns
    * (doc, n_hits) for contaminated docs only — anti-join the result to
    * keep the clean corpus.
    */
  def contaminationHits(
      corpus: DataFrame, id: String, corpusText: Column,
      benchmark: DataFrame, benchText: Column, n: Int): DataFrame = {
    val cg = corpus.select(col(id).as("doc"),
      explode(TextAnalysis.wordNgramsDistinct(corpusText, n)).as("gram"))
    val bg = benchmark
      .select(explode(TextAnalysis.wordNgramsDistinct(benchText, n)).as("gram"))
      .distinct()
    // corpus grams are distinct per doc and the benchmark side is
    // deduped, so a plain count IS the distinct-shared-gram count
    cg.join(bg, Seq("gram"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[contaminationHits]] that also emits each contaminated doc's
    * distinct-gram count `g` — for FRACTIONAL decontamination rules
    * (n_hits / g >= f). The count rides the existing explode (8 bytes
    * per exploded row, folded back as `max` — it is constant per doc)
    * instead of a second gram pass over the corpus joined back on the
    * doc key, which is what the capstone pipelines paid before r20:
    * one join + one full gram-extraction subtree removed per run.
    * Rows/values are identical to joining [[contaminationHits]] with a
    * separately computed size-of-distinct-grams frame.
    */
  private[graft] def contaminationHitsWithSize(
      corpus: DataFrame, id: String, corpusText: Column,
      benchmark: DataFrame, benchText: Column, n: Int): DataFrame = {
    val cg = corpus
      .select(col(id).as("doc"),
        TextAnalysis.wordNgramsDistinct(corpusText, n).as("gs"))
      .select(col("doc"), size(col("gs")).as("g"), explode(col("gs")).as("gram"))
    val bg = benchmark
      .select(explode(TextAnalysis.wordNgramsDistinct(benchText, n)).as("gram"))
      .distinct()
    cg.join(bg, Seq("gram"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits"), max(col("g")).as("g"))
  }

  /** [[contaminationHits]] with a map-side Bloom prefilter — the
    * 100 TB shuffle cut. The plain form explodes EVERY corpus doc's
    * n-grams into the equi-join against the benchmark gram set; when
    * the benchmark side outgrows the broadcast threshold that join
    * hash-shuffles the full corpus gram stream. Here a Bloom filter of
    * the benchmark gram hashes (built once with Spark's own sketch
    * aggregate, `fpp` sized) tests each corpus gram MAP-SIDE
    * (`graft_bloom_contains`, codegen'd), so only true hits plus an
    * `fpp` sliver of false positives ever reach the exchange; the
    * exact equi-join downstream confirms, and because a Bloom has no
    * false negatives the result is IDENTICAL to [[contaminationHits]]
    * (spec-pinned; `x_decontamination_bloom` reuses the exact-join
    * oracle verbatim). A 10M-gram eval suite at 1% fpp is ~12 MB of
    * plan-shipped filter.
    */
  def contaminationHitsBloom(
      corpus: DataFrame, id: String, corpusText: Column,
      benchmark: DataFrame, benchText: Column, n: Int,
      fpp: Double = 0.01): DataFrame = {
    // r20: bg drives THREE actions (the sizing count, the Bloom build,
    // the exact confirm join) — unpinned, the benchmark gram explode +
    // distinct shuffle ran three times; the pin is benchmark-gram-sized
    val bg = Pins.checkpoint(benchmark
      .select(explode(TextAnalysis.wordNgramsDistinct(benchText, n)).as("gram"))
      .distinct(), "dedup.benchmarkGrams")
    // the benchmark side is small by contract (it broadcast-joins in
    // the plain form); counting it exactly sizes the filter
    val expected = math.max(1024L, bg.count())
    val bloom = bg.select(xxhash64(col("gram")).as("h"))
      .stat.bloomFilter("h", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val cg = corpus
      .select(col(id).as("doc"),
        explode(TextAnalysis.wordNgramsDistinct(corpusText, n)).as("gram"))
      .filter(call_function("graft_bloom_contains",
        lit(bytes), xxhash64(col("gram"))))
    cg.join(bg, Seq("gram"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-engine-portable SimHash: 60-bit signature over md5-derived
    * token hashes (15 hex chars = 60 bits, so the hash and every shifted
    * bit stay inside a signed long under ANSI arithmetic in BOTH Spark
    * and DuckDB). Exists so the simhash ALGORITHM is hash-checkable
    * bit-for-bit against a DuckDB oracle, which cannot evaluate xxhash64
    * — the production path stays the native codegen'd [[simhash64]],
    * parity-tested against `simhash64Hof`. Same majority-vote semantics
    * (votes > 0 sets the bit).
    */
  def simhashPortable(text: Column, bits: Int = 60): Column = {
    require(bits % 4 == 0 && bits > 0 && bits <= 60, "bits must be in (0, 60] and hex-aligned")
    simhashFromHashes(
      transform(TextAnalysis.tokens(text),
        t => TextAnalysis.md5PrefixLong(t, bits / 4)), bits)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs within `maxDistance`, bucketed by the
    * high 16 bits to avoid the full cross join (docs differing only in
    * low bits still collide; standard rotate-and-rebucket extensions
    * are config, not code changes).
    */
  def simhashPairs(df: DataFrame, id: String, text: Column, maxDistance: Int): DataFrame = {
    // r20: pinned — the bucketed frame feeds both self-join sides, and
    // the ReusedExchange this relied on is the runtime gamble the
    // executed-plan audit measured not firing; unpinned, each side
    // re-ran the signature pass. Skinny rows (doc, sh, bucket).
    // r21: the doc-keyed repartition that fed the old reuse bet is gone
    // — the join keys on `bucket`, so it was a dead full exchange paid
    // once before the pin (ADVICE r20); the scan's own partitioning
    // balances the checkpoint blocks.
    val sigs = df.select(col(id).as("doc"), simhash64(text).as("sh"))
    val buckets = Pins.checkpoint(
      sigs.withColumn("bucket", shiftrightunsigned(col("sh"), 48)), "dedup.buckets")
    buckets.as("l").join(buckets.as("r"), Seq("bucket"))
      .filter(col("l.doc") < col("r.doc"))
      .withColumn("hamming", hamming64(col("l.sh"), col("r.sh")))
      .filter(col("hamming") <= maxDistance)
      .select(col("l.doc").as("id_a"), col("r.doc").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Corpus snapshot diff — the output-regression check between two
    * pipeline runs (or two crawl snapshots): per-doc status `added` /
    * `removed` / `changed` / `unchanged`, comparing whitespace/case-
    * normalized content fingerprints under the shared id.
    *
    * Scale shape: one narrow fingerprint pass per side + one id-keyed
    * full-outer join — never a text comparison (32-hex fps cross the
    * shuffle, not documents). Two snapshots written with the same
    * bucketing ([[graft.ops.Bucketing.writeBucketed]]) diff with zero
    * Exchange. Downstream, `filter(status =!= "unchanged")` is the
    * (typically tiny) regression report.
    */
  def corpusDiff(prev: DataFrame, next: DataFrame, id: String,
                 text: Column): DataFrame = {
    val a = prev.select(col(id), TextAnalysis.fingerprint(text).as("__fp_prev"))
    val b = next.select(col(id), TextAnalysis.fingerprint(text).as("__fp_next"))
    a.join(b, Seq(id), "full_outer")
      .select(col(id),
        when(col("__fp_prev").isNull, "added")
          .when(col("__fp_next").isNull, "removed")
          .when(col("__fp_prev") === col("__fp_next"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
