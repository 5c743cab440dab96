package graft

import java.nio.file.Files

import graft.ingest.{DumpReader, SqlDumpSource}

class SqlDumpSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeDumpDir(): String = {
    val dir = tempDir("graft-sqldump-")
    Files.writeString(dir.resolve("part-000.sql"),
      """CREATE TABLE public.t (a bigint, b text);
        |INSERT INTO public.t (a, b) VALUES (1, 'one; still one');
        |INSERT INTO public.t (a, b) VALUES (2, 'two''s quote');
        |""".stripMargin)
    Files.writeString(dir.resolve("part-001.sql"),
      """INSERT INTO public.t (a, b) VALUES (3,
        |  'spans lines');
        |ALTER TABLE ONLY public.t ADD CONSTRAINT fk FOREIGN KEY (a) REFERENCES public.u (x);
        |""".stripMargin)
    dir.toString
  }

  private def readV2(path: String) =
    spark.read.format(classOf[SqlDumpSource].getName).load(path)

  test("DSv2 sqldump source matches DumpReader.statements exactly") {
    val dir = writeDumpDir()
    val v2 = readV2(dir).select("idx", "kind", "database", "table", "sql")
    val v1 = DumpReader.statements(spark, dir).toDF()
      .select("idx", "kind", "database", "table", "sql")
    assert(v2.exceptAll(v1).isEmpty && v1.exceptAll(v2).isEmpty)
    // file rank keeps global dump order: part-001 statements sort after part-000
    val orderedTexts = v2.orderBy("idx").select("sql").as[String].collect()
    assert(orderedTexts.head.startsWith("CREATE TABLE"))
    assert(orderedTexts.last.startsWith("ALTER TABLE"))
  }

  test("DSv2 sqldump source prunes columns into the reader") {
    val dir = writeDumpDir()
    val kinds = readV2(dir).select("kind")
    // the scan's read schema must shrink to the projected column
    val scanDesc = kinds.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=kind"), s"scan not pruned:\n$scanDesc")
    assert(kinds.as[String].collect().count(_ == "insert_into") == 3)
  }

  test("DSv2 sqldump source parallelizes one partition per file") {
    val dir = writeDumpDir()
    assert(readV2(dir).rdd.getNumPartitions == 2)
  }

  test("DSv2 sqldump source fails loudly on a missing path") {
    intercept[Exception] {
      readV2("/definitely/not/here/*.sql").collect()
    }
  }
}
