package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a production pipeline needs both:
  *   - `bruteForceTopK`: exact cosine top-k — broadcast the (small)
  *     query set against the corpus; the baseline and the verifier.
  *   - `lshTopK`: random-hyperplane LSH — signature bits via
  *     deterministic pseudo-random planes, bucket equi-join, exact
  *     re-rank inside buckets. The 100 TB path: candidate generation is
  *     a shuffle on bucket keys instead of a cross join.
  *
  * Dot products use the `zip_with`/`aggregate` higher-order functions —
  * codegen-friendly, no UDF, no driver involvement.
  */
object Similarity {

  /** Cosine similarity of two `array<float/double>` columns (computed in
    * double, sequential fold in index order). Dispatches to the native
    * codegen'd `CosineExpr` (registered via `GraftExtensions`);
    * `cosineHof` is the pure-HOF reference formulation it is
    * parity-tested against.
    */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  private[graft] def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Exact top-k neighbors for each query vector (excluding self).
    * `queries` must be small enough to broadcast — it is the *query set*
    * (typically 1–10⁴ rows), not the corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv")))
    val scored = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes: `planes × dim`
    * doubles seeded by (plane, dim) — same plan every run, so results
    * are reproducible and testable.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** Bit-signature bucket id for a vector under deterministic planes —
    * native codegen'd `LshBucketExpr`, which derives the same
    * `Random(seed).nextGaussian` planes as [[hyperplanes]].
    */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    call_function("graft_lsh_bucket", vec, lit(numPlanes), lit(dim), lit(seed))

  /** Pure-HOF bucket formulation over explicit planes — the reference
    * the native expression is parity-tested against.
    */
  private[graft] def lshBucketHof(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeArr = array(p.map(lit): _*)
      val dot = aggregate(zip_with(vec, planeArr, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Embedding-cosine near-duplicate pairs, exact: every (id_a < id_b)
    * pair with cosine >= threshold. Inherently quadratic — run it over a
    * bounded sample or partition (the verifier role); the full-corpus
    * path is [[cosineNearDupPairsLsh]]. The smaller side is broadcast,
    * so the corpus side streams through a nested-loop join without a
    * shuffle.
    *
    * `maxRows` is the verifier's contract, enforced: pointing this at a
    * corpus larger than the bound fails loudly BEFORE the broadcast
    * build instead of OOMing an executor. Raise it deliberately if a
    * bigger exact pass is really intended; the count that enforces it
    * is one distributed pass over a 1-column projection.
    */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String, threshold: Double,
                         maxRows: Long = 10000L): DataFrame = {
    // bounded probe, not a full count: LIMIT maxRows+1 stops the scan as
    // soon as the bound is provably violated, so the guard costs O(maxRows)
    // regardless of corpus size
    val probeLimit = (math.min(maxRows, Int.MaxValue - 1L) + 1L).toInt
    val n = df.select(col(id)).limit(probeLimit).count()
    require(n <= maxRows,
      s"cosineNearDupPairs is the exact quadratic verifier: input has more than maxRows=" +
        s"$maxRows rows. Use cosineNearDupPairsLsh for full corpora, or pass a larger " +
        "maxRows deliberately.")
    val l = df.select(col(id).as("id_a"), col(vec).as("va"))
    val r = df.select(col(id).as("id_b"), col(vec).as("vb"))
    l.join(broadcast(r), col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-duplicate pairs at scale: hyperplane-LSH
    * bucketing turns the all-pairs cross join into per-bucket
    * self-joins (an equi-join shuffle on bucket keys), then the exact
    * cosine filter keeps precision at 1.0 — only recall is approximate.
    * A pair at cosine c collides per table with probability
    * (1 - arccos(c)/π)^numPlanes, so recall rises with fewer planes /
    * more seeds; the defaults (4 planes × 4 tables) hold usable recall
    * down to c ≈ 0.3, while true near-dup thresholds (c ≥ 0.9) collide
    * at ≥ 77% per table.
    */
  def cosineNearDupPairsLsh(
      df: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      numPlanes: Int = 4,
      dim: Int = 64,
      seeds: Seq[Long] = Seq(42L, 43L, 44L, 45L)): DataFrame = {
    // All seeds ride ONE exchange: explode (seed, bucket) per vector and
    // self-join on the composite key — k seeds cost one shuffle, not k.
    // r20: the bucketed frame is pinned BEFORE the key exchange — the
    // two self-join sides were betting on ReusedExchange collapsing
    // their identical subplans, which the executed-plan audit measured
    // not firing; unpinned, each side re-ran the vector scan + LSH
    // bucket hashing. The pin holds the exploded rows once; the join's
    // key exchange still moves them.
    val b = Pins.checkpoint(
      seedBucketRows(df, id, vec, numPlanes, dim, seeds, keepVec = true), "similarity.seedBuckets")
      .repartition(col("seed"), col("bucket"))
    // Order of operations matters at scale: the exact cosine runs
    // map-side straight off the join (no shuffle touches the vectors),
    // the threshold filter then drops almost every candidate, and only
    // the tiny survivor id-pairs pay the dedup shuffle.
    b.as("l").join(b.as("r"), Seq("seed", "bucket"))
      .filter(col("l.doc") < col("r.doc"))
      .filter(cosine(col("l.v"), col("r.v")) >= threshold)
      .select(col("l.doc").as("id_a"), col("r.doc").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** One (doc[, v], seed, bucket) row per (vector, LSH table) — the
    * shared candidate-generation shape of [[cosineNearDupPairsLsh]]
    * (with vectors, for the in-plan exact filter) and the persisted
    * index (without: the index stays skinny; vectors are fetched at
    * verify time for colliding ids only).
    */
  private def seedBucketRows(df: DataFrame, id: String, vec: String,
                             numPlanes: Int, dim: Int, seeds: Seq[Long],
                             keepVec: Boolean): DataFrame = {
    val seedBuckets = array(seeds.map(s =>
      struct(lit(s).as("seed"), lshBucket(col(vec), numPlanes, dim, s).as("bucket"))): _*)
    val base = df
      .select(col(id).as("doc"), col(vec).as("v"), explode(seedBuckets).as("sb"))
    val cols = (if (keepVec) Seq(col("doc"), col("v")) else Seq(col("doc"))) ++
      Seq(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
    base.select(cols: _*)
  }

  /** Persisted hyperplane-LSH index rows — (doc, seed, bucket), the
    * embedding analog of `Dedup.buildLshIndex`: built once at ingest
    * time, written out (ideally `Bucketing.writeBucketed` on
    * (seed, bucket)), and re-read by every later
    * [[incrementalCosinePairs]] admission so the corpus's vectors are
    * neither re-hashed nor re-shuffled per increment. The LSH
    * parameters are stamped into the bucket column's metadata
    * (StructField metadata survives parquet) so an increment under
    * different parameters is refused instead of silently joining
    * incompatible bucket spaces.
    */
  def buildCosineLshIndex(df: DataFrame, id: String, vec: String,
                          numPlanes: Int = 4, dim: Int = 64,
                          seeds: Seq[Long] = Seq(42L, 43L, 44L, 45L)): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.numPlanes", numPlanes.toLong)
      .putLong("graft.dim", dim.toLong)
      .putString("graft.seeds", seeds.mkString(","))
      .build()
    seedBucketRows(df, id, vec, numPlanes, dim, seeds, keepVec = false)
      .withColumn("bucket", col("bucket").as("bucket", meta))
  }

  /** Incremental embedding-cosine near-dup admission: candidate pairs
    * that TOUCH the new batch — batch×batch and batch×corpus-index,
    * never corpus×corpus — exact-cosine-verified, so precision is 1.0
    * and recall is the hyperplane tables' (as in
    * [[cosineNearDupPairsLsh]]). The embedding analog of
    * `Dedup.incrementalNearDupPairs`; ids must be disjoint across the
    * two frames.
    *
    * Scale shape: the batch's skinny (doc, seed, bucket) rows equi-join
    * the persisted index (bucketed on (seed, bucket), the index side
    * streams with zero shuffle — same layout lever as the text path);
    * candidate volume scales with batch size × collision rate, not
    * corpus². Corpus VECTORS are only materialized for docs that
    * actually collide: a semi-join on the (checkpointed, skinny)
    * candidate ids gates the vector fetch, so each increment reads
    * O(collisions) vectors, not the corpus.
    */
  def incrementalCosinePairs(
      corpus: DataFrame,
      batch: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      numPlanes: Int = 4,
      dim: Int = 64,
      seeds: Seq[Long] = Seq(42L, 43L, 44L, 45L),
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    // the stamp is REQUIRED, not best-effort — a parameter mismatch or
    // a metadata-stripping transformation silently costs recall, which
    // nothing downstream can detect (same contract as the text index)
    corpusIndex.foreach { idx =>
      val m = idx.schema("bucket").metadata
      require(m.contains("graft.numPlanes") && m.contains("graft.dim") &&
        m.contains("graft.seeds"),
        "corpusIndex is missing the buildCosineLshIndex parameter stamp — pass the frame " +
          "produced by buildCosineLshIndex (or its parquet reread) without projections " +
          "that strip column metadata")
      require(m.getLong("graft.numPlanes") == numPlanes && m.getLong("graft.dim") == dim &&
        m.getString("graft.seeds") == seeds.mkString(","),
        s"corpusIndex was built with (numPlanes=${m.getLong("graft.numPlanes")}, " +
          s"dim=${m.getLong("graft.dim")}, seeds=${m.getString("graft.seeds")}) but this " +
          s"increment uses (numPlanes=$numPlanes, dim=$dim, seeds=${seeds.mkString(",")})")
    }
    // checkpointed (skinny): read by the probe-key distinct and both
    // candidate joins
    val batchBuckets = Pins.checkpoint(
      seedBucketRows(batch, id, vec, numPlanes, dim, seeds, keepVec = false),
      "similarity.batchBuckets")
    // a supplied index is probed map-side against a broadcast of the
    // batch's own (seed, bucket) keys, so the candidate join never
    // re-shuffles the corpus-sized side even when the index is plain
    // parquet (same lever as the text path — Dedup.probeIndex)
    val corpusBuckets = corpusIndex match {
      case Some(idx) =>
        Dedup.probeIndex(idx.select(col("doc"), col("seed"), col("bucket")),
          batchBuckets, Seq("seed", "bucket"))
      case None => buildCosineLshIndex(corpus, id, vec, numPlanes, dim, seeds)
    }
    // batch×batch one-oriented; batch×corpus canonicalized (orientation
    // arbitrary across distinct frames) — same shapes as the text path
    val self = batchBuckets.as("l").join(batchBuckets.as("r"), Seq("seed", "bucket"))
      .filter(col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("id_a"), col("r.doc").as("id_b"))
    val cross = batchBuckets.as("l")
      .join(corpusBuckets.select(col("doc"), col("seed"), col("bucket")).as("r"),
        Seq("seed", "bucket"))
      .filter(col("l.doc") =!= col("r.doc"))
      .select(least(col("l.doc"), col("r.doc")).as("id_a"),
        greatest(col("l.doc"), col("r.doc")).as("id_b"))
    // skinny two-long rows, materialized once: read by the colliding-id
    // semi-join and by both verify joins
    val candidates = Pins.checkpoint(
      self.union(cross).dropDuplicates("id_a", "id_b"), "similarity.candidates")
    val collidingIds = candidates.select(col("id_a").as(id))
      .union(candidates.select(col("id_b").as(id))).distinct()
    val vecs = batch.select(col(id), col(vec)).unionByName(corpus.select(col(id), col(vec)))
      .join(collidingIds, Seq(id), "left_semi")
      .select(col(id).as("doc"), col(vec).as("v"))
    candidates
      .join(vecs.select(col("doc").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("doc").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Deterministic driver-side spherical k-means over a collected
    * sample: init = first k sample vectors (id order), `iters` Lloyd
    * rounds with cosine assignment and L2-normalized mean update.
    * Training data is a bounded sample (k·dim doubles of state); only
    * assignment runs distributed.
    */
  private[graft] def trainCentroids(
      sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"need at least $k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var centroids = sample.take(k).map(normalize)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      for (v <- sample) {
        val nv = normalize(v)
        val best = centroids.indices.maxBy(c => dot(centroids(c), nv))
        counts(best) += 1
        for (d <- 0 until dim) sums(best)(d) += nv(d)
      }
      centroids = centroids.indices.toArray.map { c =>
        if (counts(c) == 0) centroids(c) else normalize(sums(c))
      }
    }
    centroids
  }

  /** Per-row similarity to each centroid as an array column. Uses the
    * native codegen'd cosine against each (unit-norm) centroid literal
    * instead of interpreted HOF lambdas over a k×dim literal array —
    * cosine against unit centroids orders identically to the dot
    * product (it only rescales by the row's own 1/|v|), so argmax cell
    * assignment and probe ranking are unchanged.
    *
    * This is the SMALL-k path only: one literal column per centroid is
    * narrow (zero exchanges) and codegen'd, but caps k at plan-size
    * limits. Above [[MaxLiteralCentroids]], assignment goes through a
    * broadcast-joined centroid TABLE instead — see [[assignCells]].
    */
  private def centroidSims(vec: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.map(c => cosine(vec, typedLit(c.toSeq))): _*)

  /** Above this k, centroid assignment switches from per-centroid
    * literal columns (narrow, but k columns in the plan) to a broadcast
    * join against a k-row centroid table (one extra skinny aggregation
    * exchange, but k is unbounded by plan size — SemDeDup's web-scale
    * recipe uses tens of thousands of cells).
    */
  private[graft] val MaxLiteralCentroids = 64

  /** k-row centroid TABLE — (cell int, cvec array<double>) — the
    * broadcast side of large-k assignment and probe ranking.
    */
  private def centroidTable(df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
  }

  /** Nearest-centroid cell per row → (doc, v, cell), argmax ties broken
    * toward the lowest cell index on BOTH paths:
    *
    *   - k ≤ [[MaxLiteralCentroids]]: narrow argmax over per-centroid
    *     literal cosines — zero exchanges, the plan the tests exercise.
    *   - k > [[MaxLiteralCentroids]]: cross join against the BROADCAST
    *     k-row centroid table, then per-doc max. The k candidate rows
    *     per doc are contiguous in the scan partition, so the partial
    *     HashAggregate collapses them map-side and the exchange moves
    *     ONE row per doc — k never multiplies shuffled bytes.
    *
    * Both paths compute the same cosines with the same tie-break, so
    * they assign identically (parity-asserted in OpsSpec).
    */
  private[graft] def assignCells(
      df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]],
      forceBroadcast: Boolean = false): DataFrame = {
    val base = df.select(col(id).as("doc"), col(vec).as("v"))
    if (centroids.length <= MaxLiteralCentroids && !forceBroadcast) {
      val sims = centroidSims(col("v"), centroids)
      base.select(col("doc"), col("v"),
        (array_position(sims, array_max(sims)) - 1).cast("int").as("cell"))
    } else {
      base.crossJoin(broadcast(centroidTable(df, centroids)))
        .select(col("doc"), col("v"),
          struct(cosine(col("v"), col("cvec")).as("sim"), (-col("cell")).as("negCell")).as("cand"))
        .groupBy(col("doc"))
        .agg(max(col("cand")).as("best"), first(col("v")).as("v"))
        .select(col("doc"), col("v"), (-col("best.negCell")).cast("int").as("cell"))
    }
  }

  /** Bounded deterministic centroid training from a corpus sample —
    * shared by [[ivfTopK]] and [[semanticDedupPairs]]: systematic
    * thinning for spread, ordered limit so the driver never holds more
    * than `maxTrainRows` vectors regardless of corpus size.
    */
  /** Public handle on the spherical-k-means coarse fit [[ivfTopK]]
    * trains by default — callers that manage the index lifecycle
    * (pay-once prebuild, persisted artifacts) train here once and pass
    * the result as `centroids0`. Defaults mirror [[ivfTopK]]'s.
    */
  def trainIvfCentroids(corpus: DataFrame, id: String, vec: String,
                        nCentroids: Int = 16, sampleMod: Int = 10, iters: Int = 3,
                        maxTrainRows: Int = 10000): Array[Array[Double]] =
    trainOnCorpus(corpus, id, vec, nCentroids, sampleMod, iters, maxTrainRows)

  private def trainOnCorpus(corpus: DataFrame, id: String, vec: String,
                            nCentroids: Int, sampleMod: Int, iters: Int,
                            maxTrainRows: Int): Array[Array[Double]] = {
    val sample = corpus
      .filter(pmod(col(id), lit(sampleMod)) === 0)
      .orderBy(col(id))
      .limit(maxTrainRows)
      .select(col(vec))
      .collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    trainCentroids(sample, nCentroids, iters)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means cells as the blocking structure, exact
    * cosine pairs above `threshold` WITHIN each cell. Precision is 1.0
    * by the exact filter (every emitted pair really is above
    * threshold); recall misses only pairs whose members land in
    * different cells — the paper's own trade, tuned by the cell count.
    *
    * Scale shape — none of the knobs caps out at web scale:
    *   - `nCentroids = 0` (default) scales the cell count with the
    *     corpus: k = clamp(N / targetCellSize, 16, maxTrainRows), the
    *     paper's own recipe (cluster count grows with corpus size so
    *     cell population stays roughly constant).
    *   - Assignment is [[assignCells]]: narrow literal argmax for small
    *     k, broadcast centroid-table join above [[MaxLiteralCentroids]]
    *     — k = tens of thousands is expressible, never k plan columns.
    *   - The within-cell self-join is cell-size-capped: cells larger
    *     than `maxCellSize` are salted into m = ceil(size/maxCellSize)
    *     shards and joined block-wise over the (i ≤ j) shard-pair grid,
    *     each row carried by m+1 block keys. Every within-cell pair
    *     lands in exactly one block (RECALL-LOSSLESS — OpsSpec asserts
    *     set equality vs the unsharded join), but per-task work is
    *     bounded by maxCellSize² instead of the skewed cell's size² —
    *     a runaway k-means cell can no longer become an all-pairs join
    *     in one task, and parallelism is k×shards keys, not k.
    *   - The pair join shuffles on (cell, bi, bj) at the session's full
    *     shuffle parallelism (no repartition-by-cell ceiling) and only
    *     surviving id-pairs leave it; the cell-size table broadcast is
    *     a ReusedExchange across the two sides.
    */
  def semanticDedupPairs(
      df: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      nCentroids: Int = 0,
      sampleMod: Int = 10,
      iters: Int = 3,
      maxTrainRows: Int = 10000,
      maxCellSize: Int = 4096,
      targetCellSize: Int = 1024): DataFrame = {
    val k =
      if (nCentroids > 0) nCentroids
      else {
        // metadata-cheap count on a parquet scan; clamp to the training
        // sample bound so `trainOnCorpus`'s k ≤ sample-size invariant
        // holds (raise maxTrainRows to push k further)
        val n = df.count()
        math.max(16L, math.min(maxTrainRows.toLong, n / targetCellSize)).toInt
      }
    val centroids = trainOnCorpus(df, id, vec, k, sampleMod, iters, maxTrainRows)
    // r20: pinned — the assignment feeds the shard-count aggregation
    // and (via the explode) BOTH block-join sides; unpinned, the
    // scan→assign chain replayed once per consumer (the design accepted
    // that as "narrow", but the executed-plan audit shows exchange
    // reuse never collapses the duplicated subtrees, and in the v3
    // capstones the chain's input is itself a join). One vector-frame
    // copy (doc, v, cell) buys three replays back.
    val assigned = Pins.checkpoint(assignCells(df, id, vec, centroids), "similarity.assigned")
    // per-cell shard count from a skinny count agg; broadcast k rows back
    val cellShards = assigned.groupBy(col("cell"))
      .agg(ceil(count(lit(1)) / lit(maxCellSize.toDouble)).cast("int").as("m"))
    val sharded = assigned.join(broadcast(cellShards), Seq("cell"))
      .withColumn("shard", pmod(hash(col("doc")), col("m")))
    // block-join grid: a row in shard s is the LEFT of blocks (s, j≥s)
    // and the RIGHT of blocks (i≤s, s) — cross-shard pairs meet in
    // exactly one block, same-shard pairs dedup by doc order. Both
    // roles come from ONE explode lineage; Catalyst pushes each side's
    // role filter below its join exchange, so the two exchanges
    // together move exactly the m+1 block copies of each row (no more
    // than a single combined exchange would), the tiny cell-size
    // broadcast is a ReusedExchange, and the recomputed part of the
    // lineage is only the narrow scan→assign→explode chain.
    val blocks = concat(
      transform(sequence(col("shard"), col("m") - 1),
        j => struct(lit(1).as("role"), col("shard").as("bi"), j.as("bj"))),
      transform(sequence(lit(0), col("shard")),
        i => struct(lit(2).as("role"), i.as("bi"), col("shard").as("bj"))))
    val pre = sharded
      .select(col("cell"), col("doc"), col("v"), explode(blocks).as("b"))
      .select(col("cell"), col("b.role").as("role"), col("b.bi").as("bi"),
        col("b.bj").as("bj"), col("doc"), col("v"))
    pre.filter(col("role") === 1).as("l")
      .join(pre.filter(col("role") === 2).as("r"), Seq("cell", "bi", "bj"))
      .filter(col("bi") < col("bj") || col("l.doc") < col("r.doc"))
      .filter(cosine(col("l.v"), col("r.v")) >= threshold)
      .select(least(col("l.doc"), col("r.doc")).as("id_a"),
        greatest(col("l.doc"), col("r.doc")).as("id_b"))
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned
    * to their nearest coarse centroid once; each query probes the
    * `nProbe` nearest centroid cells and exact cosine re-ranks inside
    * them. The scale shape: candidate generation is a BROADCAST join on
    * cell ids (the corpus side streams unshuffled — vectors never cross
    * an exchange), the centroid table is tiny driver state, and recall
    * is tuned by nProbe/nCentroids without touching the stored
    * assignment. Assignment and probe ranking both switch from narrow
    * literal argmax to the broadcast centroid table above
    * [[MaxLiteralCentroids]], so k is not capped by plan width.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      sampleMod: Int = 10,
      iters: Int = 3,
      maxTrainRows: Int = 10000,
      centroids0: Option[Array[Array[Double]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `centroids0`: a pre-trained coarse quantizer — the train-once
    // artifact lifecycle (same placement as the IVF-PQ codebook): the
    // Lloyd fit collects a driver sample, so paying it per query is
    // neither the production shape nor bench-stable (r19 verdict #3).
    // Training is deterministic, so passing the prebuilt fit changes
    // WHERE the cost lands, not the result or the plan.
    val centroids = centroids0.getOrElse(
      trainOnCorpus(corpus, id, vec, nCentroids, sampleMod, iters, maxTrainRows))
    val assigned = assignCells(corpus, id, vec, centroids)
      .select(col("doc").as("neighbor_id"), col("v").as("cv"), col("cell"))
    // queries: nProbe nearest cells each, best first, ties to the lower
    // cell id on both paths
    val qBase = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val probed =
      if (centroids.length <= MaxLiteralCentroids) {
        val sims = centroidSims(col("qv"), centroids)
        val ranked = array_sort(zip_with(sims, sequence(lit(0), lit(centroids.length - 1)),
          (s, i) => struct((-s).as("neg"), i.as("idx"))))
        qBase.select(col("query_id"), col("qv"),
          explode(transform(slice(ranked, 1, nProbe), x => x.getField("idx").cast("int"))).as("cell"))
      } else {
        val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cell"))
        qBase.crossJoin(broadcast(centroidTable(corpus, centroids)))
          .select(col("query_id"), col("qv"), col("cell"),
            cosine(col("qv"), col("cvec")).as("csim"))
          .withColumn("crnk", row_number().over(wq))
          .filter(col("crnk") <= nProbe)
          .select(col("query_id"), col("qv"), col("cell"))
      }
    val q = broadcast(probed)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    assigned.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Product-quantization model (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector space is
    * split into `m` subspaces of `dim/m` dimensions, each with its own
    * `k`-centroid EUCLIDEAN codebook; a vector encodes to `m` small
    * codes (log2(k) bits each) — 64-dim float32 at m=8, k=16 is a 64×
    * compression, the difference between embeddings that fit executor
    * memory at 100 TB and embeddings that don't. Codebooks are tiny
    * driver state (m·k·dim/m doubles), trained once per corpus.
    */
  case class PqModel(dim: Int, m: Int, codebooks: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    def k: Int = codebooks(0).length
    def subDim: Int = dim / m
  }

  /** Euclidean Lloyd k-means (PQ codebooks quantize raw subvectors, so
    * the metric is L2 — unlike the spherical [[trainCentroids]]):
    * deterministic init = first k sample rows, `iters` rounds, empty
    * cells keep their centroid.
    */
  private[graft] def trainCentroidsL2(
      sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"need at least $k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var centroids = sample.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      for (v <- sample) {
        val best = centroids.indices.minBy(c => (d2(centroids(c), v), c))
        counts(best) += 1
        for (i <- 0 until dim) sums(best)(i) += v(i)
      }
      centroids = centroids.indices.toArray.map { c =>
        if (counts(c) == 0) centroids(c) else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** L2-normalized copy of a vector column (unit sphere): PQ ranks by
    * Euclidean ADC distance, and on normalized vectors L2 order is
    * exactly cosine order — normalize once at encode/query time and
    * the PQ family stays rank-compatible with the cosine family.
    */
  private[graft] def l2Normalize(vec: Column): Column =
    TextAnalysis.bound(
      sqrt(aggregate(vec, lit(0.0), (a, v) => a + v.cast("double") * v.cast("double")))) { norm =>
      transform(vec, v => v.cast("double") / norm)
    }

  /** Train PQ codebooks on the corpus sample (same bounded-collect
    * contract as [[trainOnCorpus]]), over NORMALIZED vectors.
    */
  def trainPq(corpus: DataFrame, id: String, vec: String,
              m: Int = 8, k: Int = 16, sampleMod: Int = 10,
              iters: Int = 3, maxTrainRows: Int = 10000): PqModel = {
    val sample = corpus
      .filter(pmod(col(id), lit(sampleMod)) === 0)
      .orderBy(col(id))
      .limit(maxTrainRows)
      .select(l2Normalize(col(vec)).as("v"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val codebooks = (0 until m).toArray.map { j =>
      trainCentroidsL2(sample.map(_.slice(j * sub, (j + 1) * sub)), k, iters)
    }
    PqModel(dim, m, codebooks)
  }

  /** Per-subspace squared distances to each codebook centroid, as one
    * flattened length-m·k array column — shared by encoding (argmin per
    * subspace) and the query-side ADC table. The codebooks ride as ONE
    * nested (m × k × subDim) literal and the distances are computed by
    * nested higher-order functions, so the expression tree is constant
    * size regardless of m·k — an unrolled per-centroid formulation
    * (m·k aggregate expressions) was measured to cost MINUTES of
    * planning/codegen per query at m·k = 256+, the plan-width lesson of
    * MaxLiteralCentroids all over again.
    */
  private def subDistTable(model: PqModel, vec: Column): Column = {
    val cb = typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    flatten(transform(sequence(lit(0), lit(model.m - 1)), j => {
      val sub = slice(vec, j * model.subDim + 1, lit(model.subDim))
      transform(element_at(cb, (j + 1).cast("int")), c =>
        aggregate(zip_with(sub, c, (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
          lit(0.0), (a, v) => a + v))
    }))
  }

  /** Encode a (normalized) vector to its m PQ codes — narrow, per-row,
    * the one-time ingest cost that buys the 64× storage cut.
    */
  def pqEncode(model: PqModel, vec: Column): Column =
    // bound: the dist table is referenced from inside the per-subspace
    // lambda — unbounded, CollapseProject would inline (and re-evaluate)
    // the whole m·k table once per subspace
    TextAnalysis.bound(subDistTable(model, l2Normalize(vec))) { table =>
      transform(sequence(lit(0), lit(model.m - 1)), j => {
        val sub = slice(table, j * model.k + 1, lit(model.k))
        (array_position(sub, array_min(sub)) - 1).cast("int")
      })
    }

  /** Asymmetric-distance (ADC) approximate squared L2 between a query's
    * precomputed distance table and a corpus row's codes: m lookups and
    * adds — no vector arithmetic at search time.
    */
  private def adcDistance(model: PqModel, dtable: Column, codes: Column): Column =
    aggregate(
      zip_with(codes, sequence(lit(0), lit(model.m - 1)),
        (code, j) => element_at(dtable, (j * model.k + code + 1).cast("int"))),
      lit(0.0), (a, v) => a + v)

  /** A trained IVF-PQ index: the coarse cell centroids plus the PQ
    * codebooks. Tiny driver state (k·dim + m·k·dim/m doubles) — in
    * production this is trained ONCE per corpus, persisted, and reused
    * by every search; the query pack caches it keyed by the source
    * parquet's identity the same way the LSH index parquet is.
    */
  case class IvfPqIndex(coarse: Array[Array[Double]], pq: PqModel)

  /** Train the coarse quantizer and the PQ codebooks in one pass over
    * the same bounded corpus sample contract as [[trainOnCorpus]].
    */
  def trainIvfPqIndex(
      corpus: DataFrame, id: String, vec: String,
      nCentroids: Int = 16, m: Int = 16, codebookK: Int = 16,
      sampleMod: Int = 10, iters: Int = 3, maxTrainRows: Int = 10000): IvfPqIndex =
    IvfPqIndex(
      trainOnCorpus(corpus, id, vec, nCentroids, sampleMod, iters, maxTrainRows),
      trainPq(corpus, id, vec, m, codebookK, sampleMod, iters, maxTrainRows))

  /** The ingest-time IVF-PQ encode: (neighbor_id, cell, codes) — the
    * search-time corpus artifact. In production this runs ONCE per
    * corpus and is persisted (parquet); every search then reads codes,
    * never vectors. The encode is the expensive step (per-row m·k
    * distance tables), which is exactly why it belongs at ingest.
    */
  def encodePqCorpus(corpus: DataFrame, id: String, vec: String,
                     index: IvfPqIndex): DataFrame =
    assignCells(corpus, id, vec, index.coarse)
      .select(col("doc").as("neighbor_id"), col("cell"),
        pqEncode(index.pq, col("v")).as("codes"))

  /** IVF-PQ approximate top-k: coarse IVF cells (the same spherical
    * centroids as [[ivfTopK]]) select which corpus slice each query
    * probes; within the probed cells, ranking is PQ-ADC over the CODES
    * — the corpus's float vectors are never read at search time. The
    * 100 TB shape this buys: the search-time corpus artifact is
    * (doc, cell, m codes) — at m=8, k=16 that is ~5 bytes of payload
    * per vector vs 256 for float32×64 — and candidate generation stays
    * a broadcast equi-join on cell ids with the corpus side streaming
    * unshuffled. Recall is tuned by nProbe and the PQ resolution (m, k)
    * without touching the stored codes. Pass a pre-trained `index` and
    * a persisted `encoded` codes artifact ([[encodePqCorpus]]) to
    * amortize training and ingest across searches (the production
    * lifecycle).
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      topK: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 16,
      codebookK: Int = 16,
      sampleMod: Int = 10,
      iters: Int = 3,
      maxTrainRows: Int = 10000,
      index: Option[IvfPqIndex] = None,
      encoded: Option[DataFrame] = None): DataFrame =
    adcShortlist(corpus, queries, id, vec, topK, nCentroids, nProbe, m,
      codebookK, sampleMod, iters, maxTrainRows, index, encoded)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))

  /** The shared ADC candidate ranking behind [[ivfPqTopK]] (which
    * returns it directly) and [[ivfPqTopKRefined]] (which re-ranks it
    * exactly): (query_id, neighbor_id, rnk) — top `shortK` per query by
    * asymmetric PQ distance within the probed cells.
    */
  private def adcShortlist(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      shortK: Int,
      nCentroids: Int,
      nProbe: Int,
      m: Int,
      codebookK: Int,
      sampleMod: Int,
      iters: Int,
      maxTrainRows: Int,
      index: Option[IvfPqIndex],
      preEncoded: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = index.getOrElse(trainIvfPqIndex(
      corpus, id, vec, nCentroids, m, codebookK, sampleMod, iters, maxTrainRows))
    val model = idx.pq
    val coarse = idx.coarse
    // the persisted-artifact shape: id + coarse cell + m small codes;
    // the float vector is DROPPED here and never consulted again
    val encoded = preEncoded.getOrElse(encodePqCorpus(corpus, id, vec, idx))
    val qBase = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val probed =
      if (coarse.length <= MaxLiteralCentroids) {
        val sims = centroidSims(col("qv"), coarse)
        val ranked = array_sort(zip_with(sims, sequence(lit(0), lit(coarse.length - 1)),
          (s, i) => struct((-s).as("neg"), i.as("idx"))))
        qBase.select(col("query_id"), col("qv"),
          explode(transform(slice(ranked, 1, nProbe), x => x.getField("idx").cast("int"))).as("cell"))
      } else {
        val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cell"))
        qBase.crossJoin(broadcast(centroidTable(corpus, coarse)))
          .select(col("query_id"), col("qv"), col("cell"),
            cosine(col("qv"), col("cvec")).as("csim"))
          .withColumn("crnk", row_number().over(wq))
          .filter(col("crnk") <= nProbe)
          .select(col("query_id"), col("qv"), col("cell"))
      }
    // each query carries its m·k ADC table (tiny: 128 doubles at the
    // defaults) instead of its vector — the join side that broadcasts
    val q = broadcast(probed.select(col("query_id"), col("cell"),
      subDistTable(model, l2Normalize(col("qv"))).as("dtable")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist").asc, col("neighbor_id"))
    encoded.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", adcDistance(model, col("dtable"), col("codes")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= shortK)
  }

  /** IVF-PQ with exact re-rank (the "refine" stage of a production
    * PQ deployment, Jégou et al. 2011 §V): ADC ranks a per-query
    * shortlist of `refineFactor × topK` candidates over the codes, then
    * ONLY the shortlisted true vectors are fetched and exact cosine
    * picks the final top-k. This recovers the rank fidelity PQ
    * quantization costs (ADC distorts order among close neighbors)
    * while preserving the memory story: search touches codes for the
    * full corpus but float vectors for just R = refineFactor·topK rows
    * per query.
    *
    * Plan shape of the fetch: the shortlist (|queries|·R rows of two
    * ids) BROADCASTS against the corpus scan — the corpus streams
    * pruned to (id, vec) with no exchange, the semi-join-shaped hash
    * lookup discards non-shortlisted rows map-side, and the final
    * window moves only (query, neighbor, sim) rows. One extra corpus
    * scan vs [[ivfPqTopK]], zero extra shuffles of vector payload.
    */
  def ivfPqTopKRefined(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      topK: Int,
      refineFactor: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 16,
      codebookK: Int = 16,
      sampleMod: Int = 10,
      iters: Int = 3,
      maxTrainRows: Int = 10000,
      index: Option[IvfPqIndex] = None,
      encoded: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = adcShortlist(corpus, queries, id, vec, refineFactor * topK,
      nCentroids, nProbe, m, codebookK, sampleMod, iters, maxTrainRows, index, encoded)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Approximate top-k: bucket by hyperplane signature, exact cosine
    * re-rank within buckets. Multi-probe: each query also probes the
    * buckets at Hamming distance ≤ 1 from its own (query-side explode
    * only — the corpus is bucketed exactly once per table). Recall
    * rises with fewer planes (bigger buckets), more seeds (more
    * tables), or probing; candidate fraction is the cost dial.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      numPlanes: Int = 8,
      dim: Int = 64,
      seeds: Seq[Long] = Seq(42L, 43L),
      multiProbe: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Every seed rides one (seed, bucket)-keyed join: the corpus is
    // bucketed and exchanged ONCE for all tables, the (broadcast) query
    // side explodes seeds × probes.
    val corpusBuckets = array(seeds.map(s =>
      struct(lit(s).as("seed"), lshBucket(col(vec), numPlanes, dim, s).as("bucket"))): _*)
    val c = corpus
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), explode(corpusBuckets).as("sb"))
      .select(col("neighbor_id"), col("cv"), col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
    val queryProbes = array(seeds.flatMap { s =>
      val exact = lshBucket(col(vec), numPlanes, dim, s)
      val probes =
        if (!multiProbe) Seq(exact)
        else exact +: (0 until numPlanes).map(i => exact.bitwiseXOR(lit(1L << i)))
      probes.map(p => struct(lit(s).as("seed"), p.as("bucket")))
    }: _*)
    val q = broadcast(queries
      .select(col(id).as("query_id"), col(vec).as("qv"), explode(queryProbes).as("sb"))
      .select(col("query_id"), col("qv"), col("sb.seed").as("seed"), col("sb.bucket").as("bucket")))
    // cosine runs map-side off the join; the dedup + rank shuffles then
    // move only (query, neighbor, sim) — never the vectors (dup pairs
    // from different seeds carry the same sim, so dedup keeping an
    // arbitrary row is exact)
    val candidates = c.join(q, Seq("seed", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    candidates
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Mean-pool vectors per group — the chunk→document (or
    * token→sentence) embedding aggregation every embedding pipeline
    * runs before doc-level dedup/retrieval. Emits the LONG form
    * (group, pos, mean_val): one row per dimension, which is also the
    * cross-engine-checkable shape (list construction order is engine
    * UI, per-element means are not).
    *
    * Scale shape: `posexplode` is narrow; the only exchange is the
    * (group, pos) aggregation with map-side partials — dims are
    * bounded (e.g. 768), so keys ≈ groups × dim and no key is hot.
    * Determinism: float addition is order-dependent across
    * partitionings, and float→decimal casts hit EXACT decimal ties
    * (binary fractions end in …5) where engines' rounding modes
    * diverge — so each element floor-quantizes to an exact 1e-9 long
    * (the double product and `floor` are IEEE-deterministic and
    * tie-free), the sum runs in exact integers, and the final divides
    * run in double. The mean is over 1e-9-quantized values — the
    * portability quantization, ~1e-9 absolute, far below any float
    * input's own precision.
    */
  /** Per-row (doc, cell, sim): cell assignment PLUS the similarity to
    * the assigned centroid — the rank key of prototype pruning. Same
    * two paths and lowest-cell tie-break as [[assignCells]], so the
    * assignment is identical (parity-asserted in OpsSpec); the literal
    * path reads the winning sim straight from the sims array, the
    * broadcast path from the winning struct.
    */
  private[graft] def assignWithSim(
      df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]],
      forceBroadcast: Boolean = false): DataFrame = {
    val base = df.select(col(id).as("doc"), col(vec).as("v"))
    if (centroids.length <= MaxLiteralCentroids && !forceBroadcast) {
      val sims = centroidSims(col("v"), centroids)
      base.select(col("doc"), sims.as("sims"))
        .select(col("doc"),
          (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int").as("cell"),
          array_max(col("sims")).as("sim"))
    } else {
      base.crossJoin(broadcast(centroidTable(df, centroids)))
        .select(col("doc"),
          struct(cosine(col("v"), col("cvec")).as("sim"), (-col("cell")).as("negCell")).as("cand"))
        .groupBy(col("doc"))
        .agg(max(col("cand")).as("best"))
        .select(col("doc"), (-col("best.negCell")).cast("int").as("cell"),
          col("best.sim").as("sim"))
    }
  }

  /** Rank each cell by similarity-to-centroid (most prototypical
    * first, doc id ascending on exact ties) and mark the top
    * `ceil(dropFrac * cellSize)` rows `dropped`, the rest `kept`.
    * One window over the skinny (doc, cell, sim) projection — the
    * count and the rank share the cell partitioning, so the corpus
    * pays a single skinny shuffle and neither text nor vectors cross
    * it.
    */
  private def prototypePrune(assigned: DataFrame, dropFrac: Double): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac <= 1.0,
      s"dropFrac must be in [0, 1], got $dropFrac")
    val byProto = Window.partitionBy(col("cell")).orderBy(col("sim").desc, col("doc").asc)
    val cellW = Window.partitionBy(col("cell"))
    assigned
      .withColumn("rnk", row_number().over(byProto))
      .withColumn("n", count(lit(1)).over(cellW))
      .select(col("doc"), col("cell"),
        when(col("rnk") <= ceil(lit(dropFrac) * col("n")), "dropped")
          .otherwise("kept").as("action"))
  }

  /** D4-style cluster-prototype diversification (Tirumala, Simig,
    * Aghajanyan & Morcos 2023, "D4: Improving LLM Pretraining via
    * Document De-Duplication and Diversification" — the SSL-prototypes
    * pruning stage): cluster the corpus's embeddings with the same
    * bounded spherical k-means SemDeDup uses, rank each cluster by
    * cosine to its own centroid, and DROP the most prototypical
    * `dropFrac` of every cluster — the near-centroid mass is the
    * least informative to train on; the cluster's periphery carries
    * the diversity. Run it after semantic dedup for the paper's full
    * D4 recipe. Returns (doc, cell, action ∈ kept|dropped).
    *
    * Scale: centroid training is the bounded driver-side sample
    * (k·dim doubles of state); the corpus then pays ONE narrow
    * assignment pass (literal or broadcast centroids, zero
    * corpus-side exchange) and ONE window shuffle of the skinny
    * (doc, cell, sim) projection. Vectors and text never cross a
    * shuffle.
    */
  def diversify(
      df: DataFrame, id: String, vec: String, dropFrac: Double,
      nCentroids: Int = 0, sampleMod: Int = 1, iters: Int = 3,
      maxTrainRows: Int = 10000, targetCellSize: Int = 1024,
      forceBroadcast: Boolean = false): DataFrame = {
    val k =
      if (nCentroids > 0) nCentroids
      else {
        val n = df.count()
        math.max(16L, math.min(maxTrainRows.toLong, n / targetCellSize)).toInt
      }
    val centroids = trainOnCorpus(df, id, vec, k, sampleMod, iters, maxTrainRows)
    prototypePrune(assignWithSim(df, id, vec, centroids, forceBroadcast), dropFrac)
  }

  /** Landmark-centroid diversification: the centroids are the
    * corpus's own k lowest-id vectors with `id % landmarkMod == 0` —
    * a deterministic Voronoi partition with no training loop, so the
    * FULL pruning decision (cell, kept/dropped) is cross-engine
    * reproducible and DuckDB-oracle-checked (`x_cluster_diversify`);
    * [[diversify]] is the trained production form of the same
    * machinery. Landmark collection is k rows regardless of corpus
    * size; cosine is normalization-invariant so the raw landmark
    * vectors serve as centroids directly.
    */
  def diversifyLandmarks(
      df: DataFrame, id: String, vec: String, dropFrac: Double,
      k: Int, landmarkMod: Int, forceBroadcast: Boolean = false): DataFrame =
    prototypePrune(
      assignWithSim(df, id, vec, landmarkCentroids(df, id, vec, k, landmarkMod),
        forceBroadcast),
      dropFrac)

  /** The corpus's own k lowest-id vectors with `id % landmarkMod == 0`
    * as a deterministic centroid set — k rows of driver state
    * regardless of corpus size; cosine is normalization-invariant so
    * the raw vectors serve as centroids directly.
    */
  private def landmarkCentroids(df: DataFrame, id: String, vec: String,
                                k: Int, landmarkMod: Int): Array[Array[Double]] = {
    val centroids = df.filter(pmod(col(id), lit(landmarkMod)) === 0)
      .orderBy(col(id)).limit(k).select(col(vec)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    require(centroids.length == k,
      s"need $k landmark vectors with $id % $landmarkMod == 0, found ${centroids.length}")
    centroids
  }

  /** Cluster-balanced (topic-balanced) sampling — the semantic analog
    * of the language-keyed stratified sampler: assign each vector to
    * its nearest centroid cell, then downsample every cell to the
    * SMALLEST cell's mass with the deterministic id-hash permille
    * filter, so no topic dominates the mix (the DataComp-LM-style
    * rebalancing move; SemDeDup's cluster machinery reused for
    * mixture shaping instead of dedup). Returns the kept (doc, cell)
    * rows; the verdict is per-row reproducible — same id, same fate.
    *
    * Scale: one narrow assignment pass, a skinny per-cell count agg,
    * a broadcast k-row rate table joined back, and a stateless filter
    * — the corpus never shuffles and vectors never cross an exchange.
    */
  def clusterBalancedSample(
      df: DataFrame, id: String, vec: String,
      nCentroids: Int = 0, sampleMod: Int = 1, iters: Int = 3,
      maxTrainRows: Int = 10000, targetCellSize: Int = 1024): DataFrame = {
    val k =
      if (nCentroids > 0) nCentroids
      else {
        val n = df.count()
        math.max(16L, math.min(maxTrainRows.toLong, n / targetCellSize)).toInt
      }
    clusterBalance(assignWithSim(df, id, vec,
      trainOnCorpus(df, id, vec, k, sampleMod, iters, maxTrainRows)))
  }

  /** Landmark-centroid variant of [[clusterBalancedSample]] — fully
    * DuckDB-oracle-checked (`x_cluster_balanced_sample`), same
    * assignment and rate machinery.
    */
  def clusterBalancedSampleLandmarks(
      df: DataFrame, id: String, vec: String,
      k: Int, landmarkMod: Int): DataFrame =
    clusterBalance(assignWithSim(df, id, vec,
      landmarkCentroids(df, id, vec, k, landmarkMod)))

  private def clusterBalance(assigned: DataFrame): DataFrame = {
    // r20: the assignment feeds the cell-count aggregation AND the
    // verdict join — pin the skinny (doc, cell) projection so the
    // nearest-centroid argmax over the vectors runs once, not twice
    val a = Pins.checkpoint(assigned.select(col("doc"), col("cell")), "similarity.cells")
    val counts = a.groupBy(col("cell")).agg(count(lit(1)).as("c"))
    val cmin = counts.agg(min(col("c")).as("cmin"))
    val rates = counts.crossJoin(broadcast(cmin))
      .select(col("cell"), (col("cmin").cast("double") / col("c")).as("__rate"))
    a.join(broadcast(rates), Seq("cell"))
      .filter(Sampling.hashPermille(col("doc")).cast("double") < col("__rate") * 1000.0)
      .select(col("doc"), col("cell"))
  }

  def meanPool(df: DataFrame, group: String, vec: String): DataFrame =
    df.select(col(group), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy(col(group), col("pos"))
      // divide by count(v), not count(*): the sum skips null elements,
      // so the mean must too — a null entry (or ragged vector lengths
      // across a group) averages over the values that exist instead of
      // silently biasing the per-dimension mean toward zero
      .agg((sum(floor(col("v").cast("double") * lit(1.0e9)).cast("long")).cast("double")
        / lit(1.0e9) / count(col("v")).cast("double")).as("mean_val"))
}
