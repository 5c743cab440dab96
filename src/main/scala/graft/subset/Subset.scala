package graft.subset

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Pins
import graft.model.FkEdge

/** Relational subsetting (SURVEY §2.3/§2.4): deterministic seed sampling
  * followed by FK-closure so the subset is referentially intact.
  *
  * Reference algorithm (`subset/src/postgres.rs:104-184`): for every
  * sampled seed row, for every FK relation, re-scan the whole dump to
  * find the referenced parent rows, recursively — O(rows × relations ×
  * dump size) nested loops with one file open per visit
  * (`subset/src/postgres.rs:81-83,142-169`), and no cycle breaking
  * (`TODO` at `:154`).
  *
  * Spark-first redesign:
  *   - each BFS *level* is one hash `left_semi` join per FK edge, joining
  *     only the frontier's NEW keys (left_anti against already-selected
  *     keys) — so the total work is proportional to the selected rows,
  *     not rows × relations × scans;
  *   - AQE picks broadcast vs shuffle per level (frontiers shrink fast);
  *   - a visited-key anti-join is the cycle guard the reference lacks:
  *     on cyclic schemas the frontier empties and the loop terminates.
  */
object Subset {

  /** A1: deterministic systematic sampling
    * (`SubsetStrategy::RandomPercent`, `subset/src/postgres.rs:40-56`).
    *
    * The reference keeps every `modulo`-th INSERT statement where
    * `modulo = total / (total * percent / 100)` ≈ `100 / percent`
    * (`list_percent_of_insert_into_rows`, `subset/src/postgres.rs:305-331`)
    * — systematic, not random. Parquet rows have no dump position, so we
    * sample systematically over the key domain instead: `key % modulo == 0`.
    * Same determinism and ratio guarantees, fully parallel, and prunable
    * by partition stats.
    */
  def systematicSample(df: DataFrame, key: String, percent: Double): DataFrame = {
    val modulo = math.max(1, (100.0 / percent).toInt)
    df.filter(pmod(col(key), lit(modulo)) === 0)
  }

  /** J1+J2: FK-closure via semi-joins.
    *
    * Acyclic FK graphs (the overwhelmingly common schema shape) take a
    * single-pass topological traversal that builds ONE declarative plan
    * — no per-level materialization, no emptiness probes, and Catalyst
    * sees the whole chain (ReuseExchange dedups shared prefixes when
    * several consumers count the closure). Cyclic graphs fall back to
    * the level-wise BFS loop whose anti-join visited guard guarantees
    * termination.
    *
    * @param load   table name → full DataFrame (lazy; a table is only
    *               scanned if an edge reaches it)
    * @param edges  FK edge list: child `fromTable.fromCol` references
    *               parent `toTable.toCol`
    * @param seed   initially selected rows per table
    * @return       selected rows per table (referentially closed under
    *               the edge list, following child → parent like the
    *               reference's `visits`)
    */
  def fkClosure(
      load: String => DataFrame,
      edges: Seq[FkEdge],
      seed: Map[String, DataFrame]): Map[String, DataFrame] =
    topoOrder(edges) match {
      case Some(order) => fkClosureDag(load, edges, seed, order)
      case None        => fkClosureIterative(load, edges, seed)
    }

  /** Kahn topological order of the table graph (edge = child→parent);
    * None when the FK graph is cyclic.
    */
  private[graft] def topoOrder(edges: Seq[FkEdge]): Option[Seq[String]] = {
    val nodes = edges.flatMap(e => Seq(e.fromTable, e.toTable)).distinct
    val inDeg = scala.collection.mutable.Map(nodes.map(_ -> 0): _*)
    for (e <- edges) inDeg(e.toTable) += 1
    val queue = scala.collection.mutable.Queue(nodes.filter(inDeg(_) == 0): _*)
    val order = scala.collection.mutable.ArrayBuffer[String]()
    while (queue.nonEmpty) {
      val t = queue.dequeue()
      order += t
      for (e <- edges if e.fromTable == t) {
        inDeg(e.toTable) -= 1
        if (inDeg(e.toTable) == 0) queue += e.toTable
      }
    }
    if (order.size == nodes.size) Some(order.toSeq) else None
  }

  /** Single-pass closure for acyclic graphs: visiting tables children
    * first, a table's final selection is `seed ∪ (one left-semi join per
    * in-edge)`, deduplicated only when several contributions meet.
    *
    * Row multiplicity: a single-contribution selection preserves the
    * parent's source rows exactly (SQL `IN`-subquery semantics — what
    * the DuckDB oracle computes). Exact-duplicate parent ROWS can only
    * exist when the referenced column isn't unique, i.e. an invalid FK
    * target; on such schemas the cyclic fallback's per-level
    * `dropDuplicates` additionally collapses them (reference J3 dedup
    * semantics), which is the one behavioral difference between paths.
    */
  private[graft] def fkClosureDag(
      load: String => DataFrame,
      edges: Seq[FkEdge],
      seed: Map[String, DataFrame],
      order: Seq[String]): Map[String, DataFrame] = {
    val selected = scala.collection.mutable.Map[String, DataFrame]() ++ seed
    for (t <- order) {
      val contributions =
        seed.get(t).toSeq ++
          edges.filter(_.toTable == t).flatMap { e =>
            selected.get(e.fromTable).map { src =>
              // r20: pin each level's key set (skinny distinct FK
              // values). The single-plan design bet on ReuseExchange
              // deduplicating the shared closure prefix across the
              // several consumers that count it — measured on the
              // executed (post-AQE) plan, that reuse does NOT fire
              // (j1's 5-table count fan-out rescanned lineitem/orders
              // per branch). With keys pinned, each level's selection
              // is one scan + one semi-join against materialized keys,
              // so total work tracks the selected rows again — at lake
              // scale the difference is rescanning the fact table once
              // per consumer vs once. LAZY checkpoint: every consumer
              // branch then shares ONE RDD (one ShuffleMapStage, one
              // computation, blocks persisted at first use) without
              // paying a serialized job barrier per level at
              // construction time.
              val keys = Pins.checkpoint(src.select(col(e.fromCol).as(e.toCol)).distinct(),
                s"subset.keys.${e.fromTable}.${e.toTable}", eager = false)
              load(t).join(keys, Seq(e.toCol), "left_semi")
            }
          }
      if (contributions.nonEmpty) {
        val merged =
          if (contributions.size == 1) contributions.head
          else contributions.reduce(_.unionByName(_)).dropDuplicates()
        selected(t) = merged
      }
    }
    selected.toMap
  }

  /** Level-wise BFS closure — the cyclic-graph path. */
  private[graft] def fkClosureIterative(
      load: String => DataFrame,
      edges: Seq[FkEdge],
      seed: Map[String, DataFrame]): Map[String, DataFrame] = {
    var selected: Map[String, DataFrame] = seed.map { case (t, df) => t -> df }
    // frontier: rows added in the previous level, per table
    var frontier: Map[String, DataFrame] = selected
    // Bound levels at #edges + #tables: a simple path through the FK
    // graph can't be longer; the anti-join guard makes extra levels
    // no-ops on cyclic graphs, this bound just avoids planning them.
    val maxLevels = edges.size + seed.size + 1
    var level = 0
    while (frontier.nonEmpty && level < maxLevels) {
      val next = scala.collection.mutable.Map[String, DataFrame]()
      for (e <- edges; src <- frontier.get(e.fromTable)) {
        val parent = load(e.toTable)
        val keys = src.select(col(e.fromCol).as(e.toCol)).distinct()
        var hit = parent.join(keys, Seq(e.toCol), "left_semi")
        // cycle guard / dedup: drop rows already selected
        for (cur <- selected.get(e.toTable)) {
          hit = hit.join(cur.select(col(e.toCol)).distinct(), Seq(e.toCol), "left_anti")
        }
        val merged = next.get(e.toTable).map(_.unionByName(hit)).getOrElse(hit)
        next(e.toTable) = merged
      }
      // Materialize each level's frontier with a checkpoint: it
      // truncates lineage (otherwise every level nests the whole prior
      // join tree into the plan — at BFS depth d the un-truncated plan
      // is O(edges^d)) and computes the frontier exactly once for the
      // emptiness probe, the next level's joins, and the final
      // consumers. Empty frontiers drop out, and their pins with them;
      // the rest stay pinned, since `selected` unions every level's.
      val (pruned, empty) = next.toMap
        .map { case (t, df) => t -> Pins.checkpoint(df.dropDuplicates(), s"subset.frontier.$t") }
        .partition { case (_, df) => !df.isEmpty }
      empty.values.foreach(Pins.release)
      selected = pruned.foldLeft(selected) { case (acc, (t, df)) =>
        acc + (t -> acc.get(t).map(_.unionByName(df).dropDuplicates()).getOrElse(df))
      }
      frontier = pruned
      level += 1
    }
    selected
  }

  /** J3: exact dedup keeping a canonical representative per key —
    * `groupBy(key).min(id)` semantics instead of the reference's
    * md5-temp-file seen-set (`subset/src/dedup.rs:9-63`), which is a
    * driver-local set and cannot scale.
    */
  def dedupByKey(df: DataFrame, key: Column, repr: String): DataFrame =
    df.groupBy(key).agg(min(col(repr)).as(repr))

  /** Full subset run (reference `Subset::read`,
    * `subset/src/postgres.rs:223-293`): sample a seed table, close over
    * FKs, copy passthrough tables 100% (J4,
    * `subset/src/postgres.rs:119-131,270-281`).
    */
  def run(
      load: String => DataFrame,
      edges: Seq[FkEdge],
      seedTable: String,
      seedKey: String,
      percent: Double,
      passthrough: Seq[String] = Nil): Map[String, DataFrame] = {
    val seed = systematicSample(load(seedTable), seedKey, percent)
    val closed = fkClosure(load, edges, Map(seedTable -> seed))
    closed ++ passthrough.map(t => t -> load(t)).toMap
  }
}
