package graft.ops

import graft.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl curation: damped PageRank over the
  * (src, dst) edge list a WARC crawl's `<a href>` extraction yields.
  *
  * Harvest-ranking pages by link structure is the published move for
  * prioritizing a web corpus before expensive curation (Page et al.
  * 1999; OPIC, Abiteboul et al. 2003 — the Common Crawl frontier uses
  * a harmonic-centrality variant): a page's rank decides whether it is
  * worth the downstream quality/dedup/tokenize spend at all, so the
  * ranking must run over the RAW crawl — the biggest table in the
  * whole pipeline — and therefore has to be shuffle-lean.
  *
  * Exactness: ranks live in integer fixed-point (`Scale` = 1e12 units)
  * and every operation is integral — multiply, integral `div`, sum —
  * so K rounds of power iteration are bit-reproducible across engines
  * and partitionings (the same quantization discipline as the KN
  * perplexity and trained-quality scorers). The oracle unrolls the
  * same K rounds as CTEs with DuckDB's `//`.
  *
  * Scale shape (the 100 TB contract):
  *   - the degree-annotated edge list is built ONCE and persisted;
  *     every round reuses it — one equi-join (edges ⨝ ranks on src,
  *     both sides hash-partitioned on the same key, so AQE keeps the
  *     exchange for the skinny rank side only) plus one map-side-
  *     combined groupBy(dst) per round;
  *   - ranks are a skinny (id, long) frame — the per-round
  *     `localCheckpoint` materializes #nodes × 16 bytes, cutting the
  *     plan's exponential growth without ever touching page payloads;
  *   - no driver-side state beyond the node count (one scalar).
  *
  * Dangling mass: contributions flow only along edges, and inflow to
  * ids absent from `nodes` is dropped by the final left join — the
  * standard "leaked dangling mass" simplification (rank stays a valid
  * relative ordering; it no longer sums to exactly 1). Deterministic,
  * and mirrored verbatim in the oracle.
  */
object LinkGraph {

  /** Fixed-point scale: 1 unit = 1e-12 of rank mass. `rank * dampNum`
    * stays far below Long overflow (1e12 × 100).
    */
  val Scale: Long = 1000000000000L

  /** K power-iteration rounds of damped PageRank.
    *
    * @param nodes (id) — one row per page
    * @param edges (src, dst) — follow links; duplicates count twice
    * @param iters rounds K (each is one join + one aggregation)
    * @param dampNum/dampDen damping factor as an exact rational
    *        (default 85/100), kept integral so the per-edge outflow
    *        `rank * dampNum div (dampDen * outdeg)` never leaves the
    *        fixed-point domain
    * @return (id, rank) after round K, rank in Scale-units
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
               dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a rational in [0,1], got $dampNum/$dampDen")
    val ids = Pins.checkpoint(nodes.select(col("id")), "pagerank.ids")
    val n = ids.count()
    require(n > 0, "pageRank needs a non-empty node set")
    val uniform = ids.select(col("id"), lit(Scale / n).as("rank"))
    if (iters == 0) return uniform
    // floor division on non-negative longs: Scala / == DuckDB //
    val base = Scale * (dampDen - dampNum) / (dampDen * n)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Scale-adaptive shuffle-partition advisory for the K rounds (r21,
    // guide §1.2 config tier / §2.2): every per-round exchange carries
    // skinny (id, long) rows, so the session default (sized for corpus
    // work) over-partitions the rank frame into per-task floors at
    // small n — derive the count from the measured node count and cap
    // at the session setting so cluster-scale runs keep their
    // configured parallelism. Restored in `finally`; fixed-point
    // arithmetic is partitioning-independent, so results are unchanged.
    val sess = nodes.sparkSession
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions")
    val advisory = math.max(1L, math.min(prevParts.toLong, (n + 999999L) / 1000000L))
    sess.conf.set("spark.sql.shuffle.partitions", advisory.toString)
    val ranks = try Pins.scopedCheckpoint("pagerank.ranks") {
      // Lazy K-round composition with ONE terminal materialization (r20
      // optimization): iters is fixed — there is no convergence probe —
      // so the rounds compose into one declarative plan and Spark
      // schedules all K join+agg stages inside a single job instead of
      // K serialized checkpoint barriers (measured 36 → ~1/3 the jobs on
      // the x_pagerank query). Each round's rank frame feeds exactly one
      // consumer (the next round), so nothing recomputes; `ed` is
      // persisted, materialized once by the terminal checkpoint and
      // released right after it. Lineage depth grows linearly in K —
      // the per-round checkpoint guarded against exponential growth
      // that a linear chain never had.
      val ed = Pins.persist(edges.join(deg, Seq("src")), "pagerank.edges")
      var r = uniform
      for (t <- 1 to iters) {
        val inflow = ed.join(r, ed("src") === r("id"))
          .select(ed("dst").as("id"),
            expr(s"rank * $dampNum div ($dampDen * outdeg)").as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("inflow"))
        r = ids.join(inflow, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + coalesce(col("inflow"), lit(0L))).as("rank"))
        // bound plan/analysis depth for large K (ADVICE r20): one
        // mid-chain barrier every 8 rounds keeps the composed self-join
        // chain's optimizer cost linear; the bench K=5 stays barrier-free
        if (t % 8 == 0 && t < iters) r = Pins.checkpoint(r, "pagerank.round")
      }
      r
    } finally sess.conf.set("spark.sql.shuffle.partitions", prevParts)
    Pins.release(ids)
    ranks
  }

  /** The oracle mirror: K rounds unrolled as CTEs over any `nodesRel`
    * (one column `id`) and `edgesRel` (columns `src`, `dst`), DuckDB
    * `//` matching Spark's integral `div` on the non-negative domain.
    */
  def pageRankSql(nodesRel: String, edgesRel: String, iters: Int = 5,
                  dampNum: Long = 85, dampDen: Long = 100): String = {
    require(iters >= 1, s"pageRankSql unrolls rounds, needs iters >= 1 (got $iters)")
    val rounds = (1 to iters).map { t =>
      s"""r$t AS MATERIALIZED (SELECT nd.id,
         |  CAST(((${Scale} * ${dampDen - dampNum}) // (${dampDen} * (SELECT n FROM nn)))
         |    + coalesce(s.inflow, 0) AS BIGINT) AS rank
         |  FROM pr_nodes nd LEFT JOIN (
         |    SELECT ed.dst AS id,
         |      CAST(sum((r${t - 1}.rank * ${dampNum}) // (${dampDen} * ed.outdeg)) AS BIGINT) AS inflow
         |    FROM ed JOIN r${t - 1} ON r${t - 1}.id = ed.src GROUP BY 1) s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH pr_nodes AS (SELECT id FROM $nodesRel),
       |nn AS (SELECT count(*) AS n FROM pr_nodes),
       |pr_edges AS (SELECT src, dst FROM $edgesRel),
       |deg AS (SELECT src, count(*) AS outdeg FROM pr_edges GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, deg.outdeg FROM pr_edges e JOIN deg USING (src)),
       |r0 AS (SELECT id, (${Scale} // (SELECT n FROM nn)) AS rank FROM pr_nodes),
       |$rounds
       |SELECT id, rank FROM r$iters""".stripMargin
  }
}
