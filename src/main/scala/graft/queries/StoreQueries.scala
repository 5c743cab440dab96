package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.model.DumpMeta
import graft.store.Catalog

/** Datastore-catalog queries (SURVEY §2.4 A4, §2.9 X3): recency sort,
  * keep-last and older-than retention over the `metadata.json` index —
  * reference `dump list`/`keep_last`/`older_than`
  * (`commands/dump.rs:37-65`, `datastore/mod.rs:41-117`).
  *
  * The catalog is tiny driver-side JSON by design (reference stores one
  * `metadata.json` per datastore); the query seeds a fresh temp catalog
  * with fixed timestamps so the result is deterministic.
  */
object StoreQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A4: register four dumps, keep the last three, drop those older
    // than a threshold, list the survivors most-recent-first.
    "a4_catalog_recency" -> ((s, dir) => {
      import s.implicits._
      val root = GraftSession.scratchDir("catalog-").toString
      val cat = new Catalog("file://" + root, s.sparkContext.hadoopConfiguration)
      Seq(
        DumpMeta("dump-1", 100L, 1000L, compressed = true, encrypted = false),
        DumpMeta("dump-2", 200L, 2000L, compressed = true, encrypted = false),
        DumpMeta("dump-3", 300L, 3000L, compressed = false, encrypted = true),
        DumpMeta("dump-4", 400L, 4000L, compressed = true, encrypted = true)
      ).foreach(cat.register)
      cat.keepLast(3) // deletes dump-1
      cat.deleteOlderThan(2500L) // deletes dump-2
      cat.list().map(d => (d.directoryName, d.createdAt, d.size))
        .toDF("directory_name", "created_at", "size")
    })
  )

  val oracle: Map[String, String] = Map(
    "a4_catalog_recency" ->
      ("SELECT * FROM (VALUES " +
        "('dump-4', CAST(4000 AS BIGINT), CAST(400 AS BIGINT)), " +
        "('dump-3', CAST(3000 AS BIGINT), CAST(300 AS BIGINT))) " +
        "AS t(directory_name, created_at, size)")
  )
}
