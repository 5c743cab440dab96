package graft

import org.apache.spark.sql.functions._

import graft.ingest.DumpReader
import graft.model.StatementKind
import graft.subset.Subset

/** Golden-fixture fidelity: the reference repo's OWN dump files fed
  * through the engine reproduce the reference's pinned test invariants.
  *
  * Fixtures (read-only, never copied into the repo):
  *   - `db/postgres/fulldump-with-inserts.sql` — 660 KB Northwind,
  *     3,362 single-row INSERTs over 14 tables; the input of the
  *     reference's subset integration tests
  *     (`subset/src/postgres.rs:752-760`).
  *   - `db/postgres/fulldump.sql` — the SAME database in pg_dump's
  *     default COPY format (which the reference never consumes — its
  *     source forces `--column-inserts`; the engine reads both).
  *   - `db/mysql/world.sql` — 1.45 MB mysqldump, 10,604 single-row
  *     INSERTs with backtick identifiers and MySQL string escapes
  *     (the fixture concatenates the dump twice, so every statement
  *     count is 2x the canonical world database).
  *
  * Pinned reference assertions reproduced here:
  *   - `filter_insert_into_rows("product_id","11")` on order_details
  *     = 38 rows (`subset/src/postgres.rs:854-873`)
  *   - header/footer slices contain zero INSERTs and are nonempty
  *     (`subset/src/postgres.rs:876-915`)
  *   - 50%-orders subset with us_states passthrough emits exactly 51
  *     us_states rows (`subset/src/postgres.rs:918-975`)
  *   - FK-graph shape: customer_customer_demo has 2 relations,
  *     customers and customer_demographics have 0
  *     (`subset/src/postgres.rs:803-830`); territories→region edge
  *     fields (`subset/src/postgres.rs:788-800`)
  *   - CREATE TABLE extraction names (public, order_details)
  *     (`subset/src/postgres.rs:763-786`)
  */
class GoldenFixtureSpec extends SparkSpec {
  private val nwInserts = "/root/reference/db/postgres/fulldump-with-inserts.sql"
  private val nwCopy = "/root/reference/db/postgres/fulldump.sql"
  private val world = "/root/reference/db/mysql/world.sql"

  private def readable(p: String): Boolean =
    java.nio.file.Files.isReadable(java.nio.file.Paths.get(p))

  // per-table INSERT/COPY row counts of the Northwind dump — ground
  // truth established directly from the file (grep -c); identical for
  // both dump formats
  private val northwindCounts = Map(
    "categories" -> 8L, "customers" -> 91L, "employee_territories" -> 49L,
    "employees" -> 9L, "order_details" -> 2155L, "orders" -> 830L,
    "products" -> 77L, "region" -> 4L, "shippers" -> 6L,
    "suppliers" -> 29L, "territories" -> 53L, "us_states" -> 51L)

  private lazy val nwStmts = {
    assume(readable(nwInserts), s"reference fixture unavailable: $nwInserts")
    DumpReader.statements(spark, nwInserts).cache()
  }

  test("northwind dump: per-table stats match the file's own counts (14 CREATE TABLEs, 3362 INSERT rows)") {
    val stats = DumpReader.tableStats(nwStmts).collect()
      .map(r => r.getString(r.fieldIndex("table")) -> r.getLong(r.fieldIndex("total_rows")))
      .toMap
    assert(stats == northwindCounts, stats)
    assert(stats.values.sum == 3362L)
    // the two *_demo tables exist in the DDL but hold no rows: 14
    // CREATE TABLEs, 12 tables with data
    val creates = nwStmts.filter(_.kind == StatementKind.CreateTable).collect()
    assert(creates.length == 14, creates.map(_.table).toSeq)
    // reference check_statements_with_tokens: CREATE TABLE extraction
    // names (public, order_details)
    assert(creates.exists(s => s.database == "public" && s.table == "order_details"))
  }

  test("northwind dump: filter product_id=11 on order_details = 38 rows (reference subset/src/postgres.rs:854-873)") {
    val od = DumpReader.tableFromDump(nwStmts, "public", "order_details")
    assert(od.count() == 2155L)
    assert(od.filter(col("product_id") === 11).count() == 38L)
    // the DSv2 scale path over the same fixture agrees on the counts
    val dsv2 = spark.read.format("graft.ingest.SqlDumpSource").load(nwInserts)
    assert(dsv2.filter(col("kind") === StatementKind.InsertInto).count() == 3362L)
    assert(dsv2.filter(col("kind") === StatementKind.CreateTable).count() == 14L)
  }

  test("northwind dump: header and footer are nonempty and INSERT-free (reference subset/src/postgres.rs:876-915)") {
    val (header, footer) = DumpReader.headerFooter(nwStmts)
    assert(header.count() > 0)
    assert(footer.count() > 0)
    assert(header.filter(col("kind") === StatementKind.InsertInto).count() == 0)
    assert(footer.filter(col("kind") === StatementKind.InsertInto).count() == 0)
    // the reference asserts on the TEXT, not the classifier — match that
    assert(header.filter(col("sql").contains("INSERT INTO")).count() == 0)
    assert(footer.filter(col("sql").contains("INSERT INTO")).count() == 0)
  }

  test("northwind dump: FK graph shape matches the reference's (reference subset/src/postgres.rs:788-830)") {
    val edges = DumpReader.foreignKeys(nwStmts)
    assert(edges.size == 13, edges)
    // check_subset_table: customer_customer_demo carries exactly 2
    // relations; customers and customer_demographics carry none
    assert(edges.count(_.fromTable == "customer_customer_demo") == 2)
    assert(edges.filter(_.fromTable == "customer_customer_demo")
      .map(_.toTable).toSet == Set("customers", "customer_demographics"))
    assert(!edges.exists(_.fromTable == "customers"))
    assert(!edges.exists(_.fromTable == "customer_demographics"))
    // check_statements_with_tokens: the territories→region edge, every field
    val t = edges.find(_.fromTable == "territories").get
    assert(t.fromDatabase == "public" && t.fromCol == "region_id" &&
      t.toDatabase == "public" && t.toTable == "region" && t.toCol == "region_id")
    // employees references itself (reports_to): the graph is CYCLIC, so
    // the subset below exercises the BFS path whose cycle guard fixes
    // the reference's TODO at subset/src/postgres.rs:154
    assert(edges.exists(e => e.fromTable == "employees" && e.toTable == "employees"))
    assert(Subset.topoOrder(edges).isEmpty)
  }

  test("northwind dump: 50%-orders subset with us_states passthrough = 51 us_states rows (reference subset/src/postgres.rs:918-975)") {
    val tables = northwindCounts.keySet
    val frames = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    def load(t: String) = frames.getOrElseUpdate(t, {
      assert(tables.contains(t), s"subset reached unexpected table $t")
      DumpReader.tableFromDump(nwStmts, "public", t)
    })
    val edges = DumpReader.foreignKeys(nwStmts)
    val result = Subset.run(load, edges, "orders", "order_id", 50.0,
      passthrough = Seq("us_states"))

    // the reference's pinned invariant: the passthrough table lands in
    // full — all 51 us_states rows
    assert(result("us_states").count() == 51L)
    // systematic 50% of orders: the even half of ids 10248..11077
    assert(result("orders").count() == 415L)
    // processed < total (reference: total_rows_processed < total_rows)
    val processed = result.map(_._2.count()).sum
    assert(processed < 3362L, processed)
    // referential closure: every selected order's parents are selected
    for (e <- edges.filter(_.fromTable == "orders")) {
      val dangling = result("orders")
        .select(col(e.fromCol).as(e.toCol)).na.drop().distinct()
        .join(result(e.toTable).select(col(e.toCol)), Seq(e.toCol), "left_anti")
      assert(dangling.count() == 0, s"dangling ${e.fromTable}.${e.fromCol} -> ${e.toTable}")
    }
    // children of the seed are NOT pulled in (child→parent traversal,
    // like the reference's visits)
    assert(!result.contains("order_details"))
  }

  test("northwind COPY-format dump: same tables, same counts, same rows as the INSERT format") {
    assume(readable(nwCopy), s"reference fixture unavailable: $nwCopy")
    val stmts = DumpReader.statements(spark, nwCopy).cache()
    try {
      val stats = DumpReader.tableStats(stmts).collect()
        .map(r => r.getString(r.fieldIndex("table")) -> r.getLong(r.fieldIndex("total_rows")))
        .toMap
      assert(stats == northwindCounts, stats)
      val od = DumpReader.tableFromCopy(stmts, "public", "order_details")
      assert(od.count() == 2155L)
      assert(od.filter(col("product_id") === 11).count() == 38L)
      // cross-format row fidelity: the us_states frame from COPY text
      // equals the one parsed from INSERT literals, value for value
      def matrix(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
        val cols = df.columns.sorted.toSeq
        df.select(cols.map(c => col(c).cast("string")): _*)
          .collect().map(_.toSeq.map(v => if (v == null) "∅" else v.toString))
          .toSeq.sortBy(_.mkString(""))
      }
      val viaCopy = matrix(DumpReader.tableFromCopy(stmts, "public", "us_states"))
      val viaInserts = matrix(DumpReader.tableFromDump(nwStmts, "public", "us_states"))
      assert(viaCopy == viaInserts)

      // the chunked spool on REAL pg_dump COPY bytes: rolled at 16 KB
      // statement boundaries, the parts re-split to exactly the
      // unchunked statements (COPY blocks never cut mid-block) and the
      // per-table stats are unchanged
      val dir = tempDir("graft-golden-chunks-")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nwCopy))
      val parts = graft.ingest.ChunkedSpool.write(i => new java.io.FileOutputStream(
        dir.resolve(f"part-$i%05d.sql").toFile), pg = None, chunkBytes = 16 * 1024)(
        o => o.write(bytes))
      assert(parts > 5, s"181 KB dump at 16 KB chunks should roll many parts, got $parts")
      val chunkedStats = DumpReader.tableStats(
          DumpReader.statements(spark, dir.toString)).collect()
        .map(r => r.getString(r.fieldIndex("table")) -> r.getLong(r.fieldIndex("total_rows")))
        .toMap
      assert(chunkedStats == northwindCounts, chunkedStats)
    } finally stmts.unpersist()
  }

  test("world.sql (mysqldump dialect): statement counts, backtick idents, and \\' escapes decode exactly") {
    assume(readable(world), s"reference fixture unavailable: $world")
    val stmts = DumpReader.statements(spark, world).cache()
    try {
      // no pg marker anywhere: every statement scans under MySQL rules
      assert(stmts.filter(_.pgStrings).count() == 0)
      val inserts = stmts.filter(_.kind == StatementKind.InsertInto)
      val byTable = inserts.groupBy("table").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // the fixture holds the dump TWICE: counts are 2x canonical world
      assert(byTable == Map("city" -> 8158L, "country" -> 478L,
        "countrylanguage" -> 1968L), byTable)
      assert(byTable.values.sum == 10604L)
      assert(stmts.filter(_.kind == StatementKind.CreateTable).count() == 6L)

      // backtick identifiers unquote: columns keep their declared case
      val city = DumpReader.tableFromDump(stmts, "public", "city")
      assert(city.columns.toSeq == Seq("ID", "Name", "CountryCode", "District", "Population"))
      assert(city.count() == 8158L)
      // J3 exact dedup collapses the doubled dump to the canonical 4079
      assert(city.dropDuplicates().count() == 4079L)
      val kabul = city.filter(col("ID") === 1).dropDuplicates().collect()
      assert(kabul.length == 1)
      assert(kabul.head.getAs[String]("Name") == "Kabul")
      assert(kabul.head.getAs[String]("CountryCode") == "AFG")
      assert(kabul.head.getAs[Long]("Population") == 1780000L)

      // MySQL \' escapes (illegal under pg rules) decode to apostrophes
      val country = DumpReader.tableFromDump(stmts, "public", "country")
      val chn = country.filter(col("Code") === "CHN")
        .select("GovernmentForm").distinct().collect()
      assert(chn.map(_.getString(0)).toSeq == Seq("People'sRepublic"), chn.toSeq)
      val ton = country.filter(col("Code") === "TON")
        .select("HeadOfState").distinct().collect()
      assert(ton.map(_.getString(0)).toSeq == Seq("Taufa'ahau Tupou IV"), ton.toSeq)
    } finally stmts.unpersist()
  }

  test("mongodump archive golden hex: parse extracts test2.Users {name: John, age: 42}; rewrite is byte-exact (reference dump-parser/src/mongodb/mod.rs:256-289)") {
    // the reference pins its archive codec to one golden hex fixture (a
    // real mongodump archive). Read the hex OUT OF the reference's own
    // test source at runtime — no fixture bytes live in this repo —
    // and hold our codec to the same two assertions.
    val src = "/root/reference/dump-parser/src/mongodb/mod.rs"
    assume(readable(src), s"reference fixture unavailable: $src")
    val hex = """"6de29981[0-9a-f]+"""".r
      .findFirstIn(java.nio.file.Files.readString(java.nio.file.Paths.get(src)))
      .getOrElse(fail("golden hex fixture not found in reference test source"))
      .stripPrefix("\"").stripSuffix("\"")
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val archive = graft.ingest.MongoArchive.read(bytes)
    // reference mongo_archive_parsing: single collection test2.Users,
    // one document {name: "John", age: 42}
    assert(archive.collections.keySet == Set("test2.Users"))
    val doc = archive.collections("test2.Users").head
    assert(doc.fields.exists { case (k, v) =>
      k == "name" && v == graft.ingest.Bson.BStr("John") })
    assert(doc.fields.exists { case (k, v) =>
      k == "age" && v == graft.ingest.Bson.BInt32(42) })
    // reference mongo_archive_to_bytes: into_bytes reproduces the hex
    assert(graft.ingest.MongoArchive.write(archive).toSeq == bytes.toSeq)
  }

  override def afterAll(): Unit = {
    try if (readable(nwInserts)) nwStmts.unpersist() finally super.afterAll()
  }
}
