package graft.ingest

import java.nio.file.{Files, Path}

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

import graft.SparkSpec
import graft.model.{Statement, StatementKind}

/** The dump reader's partitioning: a read of fewer parts than the
  * session has cores spreads over `defaultParallelism` byte ranges in
  * dump order, a read of enough parts keeps one partition per pack with
  * no shuffle, and the listing runs as one job.
  */
class DumpReaderSpec extends SparkSpec {
  import spark.implicits._

  private def cores = spark.sparkContext.defaultParallelism

  /** A pg dump of `rows` INSERTs into two tables, with DDL and an FK. */
  private def dumpText(rows: Int): String = {
    val b = new StringBuilder
    b ++= "SET standard_conforming_strings = on;\n"
    b ++= "CREATE TABLE public.a (id bigint, v text);\n"
    b ++= "CREATE TABLE public.b (id bigint, a_id bigint);\n"
    (0 until rows).foreach { i =>
      if (i % 3 == 0) b ++= s"INSERT INTO public.b (id, a_id) VALUES ($i, ${i / 2});\n"
      else b ++= s"INSERT INTO public.a (id, v) VALUES ($i, 'row $i; of a');\n"
    }
    b ++= "ALTER TABLE ONLY public.b ADD CONSTRAINT fk FOREIGN KEY (a_id) REFERENCES public.a(id);\n"
    b.result()
  }

  private def write(dir: Path, name: String, text: String): Path = {
    val p = dir.resolve(name)
    if (name.endsWith(".gz")) {
      val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
      try gz.write(text.getBytes("UTF-8")) finally gz.close()
    } else Files.writeString(p, text)
    p
  }

  /** The statements of one file, read and split whole on the driver. */
  private def unspread(file: Path): Vector[Statement] =
    DumpReader.readFile(spark.sessionState.newHadoopConf(), file.toString, 0, identity,
      DumpReader.headerDialect(spark, Seq(file.toString))).toVector

  private def byPartition(ds: Dataset[Statement]): Vector[Vector[Statement]] =
    ds.rdd.mapPartitionsWithIndex((pid, it) => Iterator(pid -> it.toVector))
      .collect().sortBy(_._1).map(_._2).toVector

  private def shuffles(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
    case _: ShuffleDependency[_, _, _] => true
    case d => shuffles(d.rdd)
  }

  /** The concatenated partitions are the unspread statements in order,
    * with `idx` strictly increasing across partitions.
    */
  private def assertSpread(file: Path): Vector[Vector[Statement]] = {
    val parts = byPartition(DumpReader.statements(spark, file.toString))
    assert(parts.size == cores)
    val flat = parts.flatten
    assert(flat == unspread(file))
    assert(flat.map(_.idx) == flat.map(_.idx).sorted.distinct)
    parts
  }

  test("a single-file dump spreads over defaultParallelism partitions in dump order") {
    val parts = assertSpread(write(tempDir("graft-spread-"), "dump.sql", dumpText(400)))
    // equal byte ranges of a uniform dump: every core gets statements
    assert(parts.forall(_.nonEmpty), parts.map(_.size))
  }

  test("a gzipped and an empty single-file dump spread the same way") {
    val dir = tempDir("graft-spread-gz-")
    val gz = assertSpread(write(dir, "dump.sql.gz", dumpText(400)))
    assert(gz.flatten.size == 400 + 4)
    assert(assertSpread(write(dir, "empty.sql", "")).forall(_.isEmpty))
  }

  test("a directory of at least defaultParallelism parts reads one partition per pack, no shuffle") {
    val dir = tempDir("graft-spread-parts-")
    val files = (0 until 2 * cores).map(i => write(dir, f"part-$i%02d.sql", dumpText(30)))
    val stmts = DumpReader.statements(spark, dir.toString)
    // a split is a quarter of the parts' bytes plus open costs, so each
    // pack takes two small parts: one pack, one partition per core
    assert(stmts.rdd.getNumPartitions == cores)
    assert(!shuffles(stmts.queryExecution.toRdd))
    val parts = byPartition(stmts)
    assert(parts.map(_.map(_.sql)) ==
      files.grouped(2).map(_.flatMap(unspread(_).map(_.sql))).toVector)
  }

  test("table inference without DDL reads the spread partitions as one partition would") {
    val b = new StringBuilder
    // the first column list in dump order names the columns; a later
    // reordered list aligns by name
    (0 until 300).foreach { i =>
      b ++= (if (i < 100) s"INSERT INTO public.t (k, v, w) VALUES ($i, 'v$i', ${i * 0.5});\n"
      else s"INSERT INTO public.t (w, k, v) VALUES (${i * 0.5}, $i, 'v$i');\n")
    }
    val file = write(tempDir("graft-spread-infer-"), "dump.sql", b.result())
    val spread = DumpReader.statements(spark, file.toString)
    assert(spread.rdd.getNumPartitions == cores)
    val whole = spark.createDataset(spark.sparkContext.parallelize(unspread(file), 1))
    val (got, want) = graft.Pins.scoped {
      val got = DumpReader.tableFromDump(spread, "public", "t")
      val want = DumpReader.tableFromDump(whole, "public", "t")
      (got.schema -> got.collect().map(_.toString).sorted.toSeq,
        want.schema -> want.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == want)
    assert(got._1.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(got._2.size == 300)
  }

  /** The listing as it was computed with a distinct shuffle. */
  private def shuffledListing(stmts: Dataset[Statement]): DumpReader.Listing = {
    val rows = stmts.flatMap { s =>
      s.kind match {
        case StatementKind.InsertInto | StatementKind.CopyBlock => Some((s.kind, s.database, s.table, -1L, ""))
        case StatementKind.CreateTable | StatementKind.AlterTable => Some((s.kind, s.database, s.table, s.idx, s.sql))
        case _ => None
      }
    }.distinct().collect().sortBy(_._4)
    def refs(kind: String) = rows.collect { case (k, db, t, _, _) if k == kind => (db, t) }.toSet
    DumpReader.Listing(refs(StatementKind.InsertInto), refs(StatementKind.CopyBlock),
      rows.collect { case (StatementKind.CreateTable, _, t, _, sql) => t -> sql }.toMap,
      rows.toSeq.collect { case (StatementKind.AlterTable, _, _, _, sql) => sql }.flatMap(Ddl.foreignKey))
  }

  test("listing runs one job and lists what the distinct shuffle listed") {
    val dir = tempDir("graft-listing-")
    val redefined = dumpText(200) +
      "CREATE TABLE public.a (id bigint, v text, extra integer);\n" +
      "INSERT INTO public.a (id, v, extra) VALUES (999, 'late', 1);\n"
    val mixed =
      "CREATE TABLE public.c (x bigint);\n" +
        "COPY public.c (x) FROM stdin;\n1\n2\n\\.\n" +
        "CREATE TABLE public.d (y text);\n" +
        "INSERT INTO public.d (y) VALUES ('one');\n" +
        "COPY public.d (y) FROM stdin;\ntwo\n\\.\n" + dumpText(100)
    for ((name, text) <- Seq("redefined.sql" -> redefined, "mixed.sql" -> mixed)) {
      val stmts = DumpReader.statements(spark, write(dir, name, text).toString)
      val (listing, jobs) = jobsOf(DumpReader.listing(stmts))
      assert(jobs == 1, name)
      assert(listing == shuffledListing(stmts), name)
    }
    val redef = DumpReader.listing(DumpReader.statements(spark, dir.resolve("redefined.sql").toString))
    assert(redef.ddl("a") == "CREATE TABLE public.a (id bigint, v text, extra integer);")
    assert(redef.insertRefs == Set(("public", "a"), ("public", "b")) && redef.copyRefs.isEmpty)
    assert(redef.fkEdges.size == 1)
    val mix = DumpReader.listing(DumpReader.statements(spark, dir.resolve("mixed.sql").toString))
    assert(mix.copyRefs == Set(("public", "c"), ("public", "d")))
    assert(mix.insertRefs == Set(("public", "a"), ("public", "b"), ("public", "d")))
    assert(mix.ddl.keySet == Set("a", "b", "c", "d"))
  }
}
