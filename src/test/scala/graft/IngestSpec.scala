package graft

import graft.ingest.{Ddl, InsertParser, Jsonl, StatementSplitter}
import graft.model.StatementKind

/** Splitter/parser tests covering the edge cases the reference's inline
  * tests treat as the spec (`dump-parser/src/utils.rs:304-949`,
  * `postgres/mod.rs:842-1065`) — fixtures written fresh here.
  */
class IngestSpec extends SparkSpec {

  private val dump =
    """-- PostgreSQL database dump
      |CREATE TABLE public.customers (
      |    customer_id bpchar NOT NULL,
      |    company_name character varying(40),
      |    notes text
      |);
      |INSERT INTO public.customers (customer_id, company_name, notes) VALUES ('ALFKI', 'Alfreds Futterkiste', 'line one
      |line two');
      |INSERT INTO public.customers (customer_id, company_name, notes) VALUES ('ANATR', 'Ana''s Emparedados', NULL);
      |INSERT INTO public.customers (customer_id, company_name, notes) VALUES ('SEMI', 'has ; semicolon and -- dashes', 'x');
      |
      |-- a comment between statements
      |INSERT INTO public.orders (order_id, freight, shipped) VALUES (10248, 32.38, true);
      |INSERT INTO public.orders (order_id, freight, shipped) VALUES (10249, 11.61, false);
      |ALTER TABLE ONLY public.orders
      |    ADD CONSTRAINT fk_orders_customers FOREIGN KEY (customer_id) REFERENCES public.customers(customer_id);
      |""".stripMargin

  test("file ranking: url-encodable names and glob paths keep dump order") {
    val dir = tempDir("graft-files-")
    java.nio.file.Files.writeString(
      dir.resolve("a part 1.sql"), "INSERT INTO public.t (a) VALUES (1);")
    java.nio.file.Files.writeString(
      dir.resolve("b.sql"), "INSERT INTO public.t (a) VALUES (2);")
    val stmts = graft.ingest.DumpReader.statements(spark, dir.toString)
      .collect().sortBy(_.idx)
    // name order: "a part 1.sql" (with a space → url-encoded by
    // input_file_name) ranks before "b.sql"
    assert(stmts.map(_.sql).toSeq == Seq(
      "INSERT INTO public.t (a) VALUES (1);",
      "INSERT INTO public.t (a) VALUES (2);"))
    assert(graft.ingest.DumpReader.statements(spark, dir.toString + "/*.sql").count() == 2)
  }

  test("file reading: a gzipped dump inflates, hidden directory members are skipped") {
    val dir = tempDir("graft-files-gz-")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("a.sql.gz")))
    try gz.write("INSERT INTO public.t (a) VALUES (1);\n".getBytes("UTF-8")) finally gz.close()
    // a Hadoop checksum sibling and a job marker are not dump parts
    java.nio.file.Files.writeString(dir.resolve(".a.sql.gz.crc"), "garbage;")
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS"), "garbage;")
    val stmts = graft.ingest.DumpReader.statements(spark, dir.toString).collect()
    assert(stmts.map(_.sql).toSeq == Seq("INSERT INTO public.t (a) VALUES (1);"))
  }

  test("datastore read: part order is name order even when sizes differ") {
    import spark.implicits._
    val dir = tempDir("graft-order-").toString
    val store = new graft.store.Datastore("file://" + dir, spark)
    // partition 0 tiny, partition 1 large — binaryFile's size-sorted
    // splits would visit the large part first without the path sort
    val src = spark.sparkContext.parallelize(Seq(0, 1), 2).flatMap {
      case 0 => Seq("INSERT INTO public.t (a) VALUES (-1);")
      case _ => (1000 until 1400).map(i => s"INSERT INTO public.t (a) VALUES ($i);")
    }
    store.write("order-test", spark.createDataset(src))
    val back = graft.ingest.DumpReader.statementsFromStrings(spark, store.read("order-test"))
      .collect().sortBy(_.idx)
    assert(back.length == 401)
    assert(back.head.sql == "INSERT INTO public.t (a) VALUES (-1);")
  }

  test("mysql dialect: backtick idents, table-only names, hex-ish strings") {
    // mirrors the reference's MySQL tokenizer quirks: backtick idents
    // (`dump-parser/src/mysql/mod.rs:317`), no schema prefix
    // (`source/mysql.rs:170-177`)
    val stmt = "INSERT INTO `world`.`city` (`ID`, `Name`, `Population`) " +
      "VALUES (1, 'Kabul''s center', 1780000);"
    assert(StatementSplitter.tableRef(stmt).contains(("world", "city")))
    val ins = InsertParser.parse(stmt).get
    assert(ins.columns == Vector("ID", "Name", "Population"))
    assert(ins.values(1) == InsertParser.SqlString("Kabul's center"))
    assert(ins.values(2) == InsertParser.SqlLong(1780000L))
    val bare = "INSERT INTO `city` (`ID`) VALUES (2);"
    assert(StatementSplitter.tableRef(bare).contains(("public", "city")))
    assert(Ddl.foreignKey(
      "ALTER TABLE `city` ADD CONSTRAINT fk FOREIGN KEY (`CountryCode`) " +
        "REFERENCES `country` (`Code`);").exists(e =>
      e.fromTable == "city" && e.fromCol == "CountryCode" &&
        e.toTable == "country" && e.toCol == "Code"))
  }

  test("splitter: statements spanning lines, quoted semicolons, comments") {
    val stmts = StatementSplitter.split(dump)
    val kinds = stmts.map(_.kind)
    assert(kinds.count(_ == StatementKind.InsertInto) == 5)
    assert(kinds.count(_ == StatementKind.CreateTable) == 1)
    assert(kinds.count(_ == StatementKind.AlterTable) == 1)
    assert(kinds.count(_ == StatementKind.CommentLine) == 2)
    // multi-line string stayed one statement
    val multi = stmts.find(_.text.contains("line one")).get
    assert(multi.text.contains("line two"))
    // ; inside a string literal did not split
    val semi = stmts.find(_.text.contains("SEMI")).get
    assert(semi.text.contains("has ; semicolon"))
    assert(stmts.forall(_.valid))
  }

  test("splitter: partial -- comment inside a statement hides the ;") {
    val s = "INSERT INTO t (a) -- trailing comment; not an end\nVALUES (1);"
    val stmts = StatementSplitter.split(s)
    assert(stmts.length == 1)
    assert(stmts.head.text.endsWith("VALUES (1);"))
  }

  test("splitter: backslash-escaped quote stays inside the string") {
    val s = "INSERT INTO t (a) VALUES ('it\\'s; fine');"
    val stmts = StatementSplitter.split(s)
    assert(stmts.length == 1)
    assert(stmts.head.kind == StatementKind.InsertInto)
  }

  test("splitter: unbalanced parens flagged invalid, still emitted") {
    val stmts = StatementSplitter.split("INSERT INTO t (a VALUES (1;")
    assert(stmts.length == 1)
    assert(!stmts.head.valid)
  }

  test("tableRef: qualified, unqualified, quoted, ALTER ONLY") {
    assert(StatementSplitter.tableRef("INSERT INTO public.orders (a) VALUES (1);")
      .contains(("public", "orders")))
    assert(StatementSplitter.tableRef("INSERT INTO orders (a) VALUES (1);")
      .contains(("public", "orders")))
    assert(StatementSplitter.tableRef("INSERT INTO \"mySchema\".\"myTable\" (a) VALUES (1);")
      .contains(("mySchema", "myTable")))
    assert(StatementSplitter.tableRef("ALTER TABLE ONLY public.orders ADD CONSTRAINT x;")
      .contains(("public", "orders")))
    assert(StatementSplitter.tableRef("CREATE TABLE IF NOT EXISTS t (a int);")
      .contains(("public", "t")))
  }

  test("insert parser: typed values incl escapes, numbers, bool, null") {
    val ins = InsertParser.parse(
      "INSERT INTO public.t (s, i, f, b, n, big) VALUES " +
        "('Ana''s, (cafe)', -42, 3.14, true, NULL, 170141183460469231731687303715884105727);").get
    assert(ins.columns == Vector("s", "i", "f", "b", "n", "big"))
    assert(ins.values(0) == InsertParser.SqlString("Ana's, (cafe)"))
    assert(ins.values(1) == InsertParser.SqlLong(-42))
    assert(ins.values(2) == InsertParser.SqlDouble(3.14))
    assert(ins.values(3) == InsertParser.SqlBool(true))
    assert(ins.values(4) == InsertParser.SqlNull)
    // i128-wide integer survives as decimal (reference types.rs:34)
    assert(ins.values(5) == InsertParser.SqlDecimal(BigDecimal("170141183460469231731687303715884105727")))
  }

  test("re-synthesis roundtrip: parse(toQuery(x)) == x, '' escaping") {
    val stmt = "INSERT INTO public.t (a, b) VALUES ('it''s', 7);"
    val ins = InsertParser.parse(stmt).get
    assert(InsertParser.toQuery(ins) == stmt)
    assert(InsertParser.parse(InsertParser.toQuery(ins)).get == ins)
  }

  test("splitter: dollar-quoted function bodies stay one statement (fixes reference utils.rs:874-948 truncation)") {
    val dump =
      """CREATE FUNCTION f() RETURNS trigger AS $body$
        |BEGIN
        |  UPDATE t SET x = 'a;b';
        |  RETURN NEW;
        |END;
        |$body$ LANGUAGE plpgsql;
        |INSERT INTO public.t (a) VALUES (1);
        |""".stripMargin
    val stmts = StatementSplitter.split(dump)
    val nonComment = stmts.filterNot(_.kind == StatementKind.CommentLine)
    assert(nonComment.length == 2, s"got: ${nonComment.map(_.text.take(30))}")
    assert(nonComment(0).text.contains("RETURN NEW;") && nonComment(0).valid)
    assert(nonComment(1).kind == StatementKind.InsertInto)
    // anonymous $$ form too, and an unterminated body is flagged invalid
    val anon = StatementSplitter.split("CREATE FUNCTION g() AS $$ a; b; $$ LANGUAGE sql;\n")
    assert(anon.length == 1 && anon(0).valid)
    val unterminated = StatementSplitter.split("CREATE FUNCTION h() AS $$ a;\n")
    assert(unterminated.length == 1 && !unterminated(0).valid)
  }

  test("copy blocks: split as one statement, decode escapes and nulls, type from DDL") {
    import graft.ingest.{DumpReader, DumpSink}
    import spark.implicits._
    val dump =
      "CREATE TABLE public.t (a bigint, b text, c double precision);\n" +
        "COPY public.t (a, b, c) FROM stdin;\n" +
        "1\tplain; with semicolon\t1.5\n" +
        "2\ttab\\tnewline\\nback\\\\slash\t\\N\n" +
        "3\t\\N\t-2.25\n" +
        "\\.\n" +
        "ALTER TABLE ONLY public.t ADD CONSTRAINT fk FOREIGN KEY (a) REFERENCES public.u (x);\n"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(dump).toDS())
    // the data lines (with ; and quotes) stay inside ONE copy_block
    val kinds = stmts.collect().sortBy(_.idx).map(_.kind).toSeq
    assert(kinds == Seq(StatementKind.CreateTable, StatementKind.CopyBlock, StatementKind.AlterTable))
    val df = DumpReader.tableFromCopy(stmts, "public", "t",
      Some("CREATE TABLE public.t (a bigint, b text, c double precision);"))
    val rows = df.orderBy($"a").collect()
    assert(rows(0).getString(1) == "plain; with semicolon" && rows(0).getDouble(2) == 1.5)
    assert(rows(1).getString(1) == "tab\tnewline\nback\\slash" && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).getDouble(2) == -2.25)
    // inference path works too (no DDL)
    val inferred = DumpReader.tableFromCopy(stmts, "public", "t")
    assert(inferred.schema("a").dataType.typeName == "long")
    assert(inferred.schema("c").dataType.typeName == "double")
    // escape/unescape are inverses on hostile strings
    val nasty = "a\tb\nc\\d\re\\N\\tf"
    assert(DumpSink.unescapeCopy(DumpSink.escapeCopy(nasty)) == nasty)
    // foreign-dump escapes we never emit but must decode: hex, octal,
    // \b \f \v
    assert(DumpSink.unescapeCopy("\\x41\\x4a") == "AJ")
    assert(DumpSink.unescapeCopy("\\101\\012") == "A\n")
    assert(DumpSink.unescapeCopy("a\\bb\\fc\\vd") == "a\bb\fcd")
    assert(DumpSink.unescapeCopy("\\x4") == "\u0004") // single hex digit is legal
  }

  test("inference is sample-free: a double first appearing at row 1001 widens the column") {
    import graft.ingest.DumpReader
    import spark.implicits._
    // 1000 long-shaped rows, then one double — a sample-bounded
    // inference would type `v` as long and cast row 1001 to null
    val inserts = (1 to 1000).map(i => s"INSERT INTO public.late (id, v) VALUES ($i, $i);") :+
      "INSERT INTO public.late (id, v) VALUES (1001, 3.25);"
    val stmts = DumpReader.statementsFromStrings(spark, inserts.toDS())
    val df = DumpReader.tableFromDump(stmts, "public", "late")
    assert(df.schema("v").dataType.typeName == "double")
    assert(df.filter($"id" === 1001).select($"v").as[Double].head() == 3.25)
    assert(df.filter($"v".isNull).isEmpty, "no value may be lost to a narrow inferred type")
    // and a late bool next to longs degrades to string, not a crash
    val mixed = DumpReader.statementsFromStrings(spark,
      ((1 to 1000).map(i => s"INSERT INTO public.mx (v) VALUES ($i);") :+
        "INSERT INTO public.mx (v) VALUES (true);").toDS())
    assert(DumpReader.tableFromDump(mixed, "public", "mx")
      .schema("v").dataType.typeName == "string")
  }

  test("insert parser: extended multi-row VALUES yields every row") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val multi = InsertParser.parseMulti(
      "INSERT INTO public.t (a, b) VALUES (1, 'x,y'), (2, 'z (w)'), (3, NULL);").get
    assert(multi.length == 3)
    assert(multi(1).values == Vector(InsertParser.SqlLong(2L), InsertParser.SqlString("z (w)")))
    assert(multi(2).values(1) == InsertParser.SqlNull)
    // positional form too
    val pos = InsertParser.parseMulti("INSERT INTO t VALUES (1), (2), (3);").get
    assert(pos.map(_.values.head) == Vector(1L, 2L, 3L).map(InsertParser.SqlLong))
    // and through the frame assembly
    val stmts = DumpReader.statementsFromStrings(spark, Seq(
      "INSERT INTO public.m (a, b) VALUES (1, 'x'), (2, 'y'), (3, 'z');").toDS())
    val df = DumpReader.tableFromDump(stmts, "public", "m")
    assert(df.orderBy($"a").as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // a malformed trailing group rejects the whole statement
    assert(InsertParser.parseMulti("INSERT INTO t (a) VALUES (1), garbage;").isEmpty)
  }

  test("insert parser: tables literally named 'values' keep their column lists") {
    val ins = InsertParser.parse("INSERT INTO public.values (a, b) VALUES (1, 'x');").get
    assert(ins.table == "values")
    assert(ins.columns == Vector("a", "b"))
    assert(ins.values(0) == InsertParser.SqlLong(1L))
    // quoted table names with spaces, and name(cols) without whitespace
    val q = InsertParser.parse("INSERT INTO \"my table\"(a) VALUES (2);").get
    assert(q.columns == Vector("a") && q.values(0) == InsertParser.SqlLong(2L))
  }

  test("copy blocks: quoted headers, WITH options, and empty-string rows survive") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val dump =
      "COPY \"order line\" (a) FROM stdin WITH (FORMAT text);\n" +
        "first\n" +
        "\n" +          // single-column EMPTY STRING row — still a row
        "third\n" +
        "\\.\n"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(dump).toDS())
    assert(stmts.collect().map(_.kind).toSeq == Seq(StatementKind.CopyBlock))
    val df = DumpReader.tableFromCopy(stmts, "public", "order line",
      Some("CREATE TABLE public.\"order line\" (a text);"))
    assert(df.as[String].collect().toSeq.sorted == Seq("", "first", "third"))
    // truncated block (no terminator) fails loudly
    val bad = DumpReader.statementsFromStrings(spark,
      Seq("COPY public.t (a) FROM stdin;\nrow1\n").toDS())
    val err = intercept[org.apache.spark.SparkException] {
      DumpReader.tableFromCopy(bad, "public", "t",
        Some("CREATE TABLE public.t (a text);")).collect()
    }
    assert(err.getMessage.contains("unterminated COPY block") ||
      Option(err.getCause).exists(_.getMessage.contains("unterminated COPY block")))
  }

  test("copy blocks: column-list-free header with WITH options uses DDL order") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val dump = "COPY public.t FROM stdin WITH (FORMAT text);\n1\tx\n2\ty\n\\.\n"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(dump).toDS())
    val df = DumpReader.tableFromCopy(stmts, "public", "t",
      Some("CREATE TABLE public.t (a bigint, b text);"))
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(df.orderBy($"a").as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("splitter: '$' glued to an identifier is not a dollar-quote delimiter") {
    val stmts = StatementSplitter.split(
      "CREATE TABLE public.a$$b (id bigint);\nINSERT INTO public.a$$b (id) VALUES (1);\n")
    assert(stmts.length == 2, s"got: ${stmts.map(_.text.take(40))}")
    assert(stmts(1).kind == StatementKind.InsertInto)
  }

  test("dump row stats count rows of extended INSERTs and COPY blocks") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val dump =
      "INSERT INTO public.a (x) VALUES (1), (2), (3);\n" +
        "COPY public.b (x) FROM stdin;\n10\n20\n\\.\n"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(dump).toDS())
    val stats = DumpReader.tableStats(stmts)
      .select($"table", $"total_rows").as[(String, Long)].collect().toMap
    assert(stats == Map("a" -> 3L, "b" -> 2L))
  }

  test("ddl: create-table column extraction skips constraints") {
    val cols = Ddl.createTableColumns(
      """CREATE TABLE public.orders (
        |  order_id smallint NOT NULL,
        |  "customerId" bpchar,
        |  freight real,
        |  CONSTRAINT pk_orders PRIMARY KEY (order_id)
        |);""".stripMargin)
    assert(cols == Vector("order_id", "customerId", "freight"))
  }

  test("ddl: foreign key extraction (reference subset/src/postgres.rs:662-734)") {
    val fk = Ddl.foreignKey(
      "ALTER TABLE ONLY public.orders ADD CONSTRAINT fk FOREIGN KEY (customer_id) " +
        "REFERENCES public.customers(customer_id);").get
    assert(fk.fromTable == "orders" && fk.fromCol == "customer_id")
    assert(fk.toTable == "customers" && fk.toCol == "customer_id")
  }

  test("dump end-to-end: statements → stats, header/footer, fks, typed table") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val stmts = DumpReader.statementsFromStrings(spark, Seq(dump).toDS())
    val stats = DumpReader.tableStats(stmts).collect()
    val custStats = stats.find(_.getString(1) == "customers").get
    assert(custStats.getLong(2) == 3)
    val fks = DumpReader.foreignKeys(stmts)
    assert(fks.exists(e => e.fromTable == "orders" && e.toTable == "customers"))
    val (header, footer) = DumpReader.headerFooter(stmts)
    assert(header.filter($"kind" === StatementKind.InsertInto).count() == 0)
    assert(footer.filter($"kind" === StatementKind.InsertInto).count() == 0)
    val orders = DumpReader.tableFromDump(stmts, "public", "orders")
    assert(orders.schema.map(_.name) == Seq("order_id", "freight", "shipped"))
    assert(orders.schema("order_id").dataType.typeName == "long")
    assert(orders.schema("freight").dataType.typeName == "double")
    assert(orders.schema("shipped").dataType.typeName == "boolean")
    val rows = orders.orderBy($"order_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10248L, 10249L))
    assert(rows(0).getBoolean(2))
    val cust = DumpReader.tableFromDump(stmts, "public", "customers")
    assert(cust.filter($"company_name" === "Ana's Emparedados").count() == 1)
    assert(cust.filter($"notes".isNull).count() == 1)
  }

  test("ddl: create-table column TYPES map to Spark types, constraints skipped") {
    val types = Ddl.createTableColumnTypes(
      """CREATE TABLE public.t (id bigint NOT NULL, name text, score double precision,
        |ok boolean DEFAULT true, amount numeric(10,2), note varchar(50), created timestamp,
        |PRIMARY KEY (id));""".stripMargin).toMap
    assert(types("id").typeName == "long")
    assert(types("name").typeName == "string")
    assert(types("score").typeName == "double")
    assert(types("ok").typeName == "boolean")
    assert(types("amount") == org.apache.spark.sql.types.DecimalType(10, 2))
    assert(types("note").typeName == "string")
    assert(types("created").typeName == "string")
    assert(!types.contains("PRIMARY"))
  }

  test("ddl-typed tableFromDump: no sampling, aligns out-of-order INSERT columns") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val ddl = "CREATE TABLE public.t (a bigint, b text, c double precision);"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(
      ddl,
      "INSERT INTO public.t (a, b, c) VALUES (1, 'x', 1.5);",
      // columns listed in a different order than the DDL
      "INSERT INTO public.t (c, a, b) VALUES (2.5, 2, 'y');",
      // a column omitted entirely -> null
      "INSERT INTO public.t (a) VALUES (3);").toDS())
    val df = DumpReader.tableFromDump(stmts, "public", "t", Some(ddl))
    assert(df.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(df.schema("a").dataType.typeName == "long")
    val rows = df.orderBy($"a").collect()
    assert(rows.map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq == Seq(
      (1L, Some("x"), Some(1.5)), (2L, Some("y"), Some(2.5)), (3L, None, None)))
    // and on uniform-column input (the inference path's contract — it
    // assumes every INSERT lists columns in one order) both paths agree
    val uniform = DumpReader.statementsFromStrings(spark, Seq(
      ddl,
      "INSERT INTO public.t (a, b, c) VALUES (1, 'x', 1.5);",
      "INSERT INTO public.t (a, b, c) VALUES (2, 'y', 2.5);").toDS())
    val typed = DumpReader.tableFromDump(uniform, "public", "t", Some(ddl))
    val inferred = DumpReader.tableFromDump(uniform, "public", "t")
    assert(typed.exceptAll(inferred).isEmpty && inferred.exceptAll(typed).isEmpty)
  }

  test("ddl-typed tableFromDump: declared decimal scale survives, unquoted STRING literals pass verbatim") {
    import graft.ingest.DumpReader
    import spark.implicits._
    // amount numeric(10,2) must keep its fraction; cost is an SQL type
    // we map to STRING (money) whose dump literal is UNQUOTED
    val ddl = "CREATE TABLE public.p (id bigint, amount numeric(10,2), cost money);"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(
      ddl, "INSERT INTO public.p (id, amount, cost) VALUES (1, 123.45, 19.99);").toDS())
    val df = DumpReader.tableFromDump(stmts, "public", "p", Some(ddl))
    val row = df.collect()(0)
    assert(row.getDecimal(1) == new java.math.BigDecimal("123.45"))
    assert(row.getString(2) == "19.99") // not quote-stripped to 9.9
  }

  test("positional INSERTs: DDL aligns them, inference path fails loudly") {
    import graft.ingest.DumpReader
    import spark.implicits._
    val ddl = "CREATE TABLE public.t (a bigint, b text);"
    val stmts = DumpReader.statementsFromStrings(spark, Seq(
      ddl,
      "INSERT INTO public.t VALUES (1, 'x');",
      "INSERT INTO public.t VALUES (2, 'y');").toDS())
    val df = DumpReader.tableFromDump(stmts, "public", "t", Some(ddl))
    assert(df.orderBy($"a").as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
    val err = intercept[IllegalArgumentException] {
      DumpReader.tableFromDump(stmts, "public", "t")
    }
    assert(err.getMessage.contains("without column lists"))
  }

  test("inference path binds INSERT values by column name, not by position") {
    import graft.ingest.DumpReader
    import spark.implicits._
    // no CREATE TABLE: the second INSERT lists its columns in the other
    // order, and must still land 2 in `a` and 'y' in `b`
    val stmts = DumpReader.statementsFromStrings(spark, Seq(
      "INSERT INTO public.t (a, b) VALUES (1, 'x');",
      "INSERT INTO public.t (b, a) VALUES ('y', 2);").toDS())
    val df = DumpReader.tableFromDump(stmts, "public", "t")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.schema("a").dataType.typeName == "long")
    assert(df.schema("b").dataType.typeName == "string")
    assert(df.orderBy($"a").as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
    // a row naming a different column set cannot be aligned without DDL
    val other = DumpReader.statementsFromStrings(spark, Seq(
      "INSERT INTO public.t (a, b) VALUES (1, 'x');",
      "INSERT INTO public.t (a, c) VALUES (2, 'y');").toDS())
    val err = intercept[IllegalArgumentException] {
      DumpReader.tableFromDump(other, "public", "t")
    }
    assert(err.getMessage.contains("rows list different columns"))
  }

  test("JSONL exchange: lossless roundtrip (plain and gzip), corrupt lines quarantined not nulled") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = Seq((1L, "hello world"), (2L, "quote \" and \\ backslash \t tab"), (3L, ""))
      .toDF("doc_id", "text")
    for (compression <- Seq("none", "gzip")) {
      val dir = tempDir(s"graft-jsonl-$compression").toString
      Jsonl.write(df, dir, compression)
      val back = Jsonl.read(spark, dir, schema)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSet
      assert(back == Set((1L, "hello world"), (2L, "quote \" and \\ backslash \t tab"), (3L, "")),
        s"$compression roundtrip lost content")
    }
    // a malformed line lands in _corrupt with the good fields of OTHER
    // rows intact — the count-don't-crash ingest posture
    val dirtyDir = tempDir("graft-jsonl-dirty").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirtyDir, "part-0.json"),
      """{"doc_id": 1, "text": "good"}
        |this is not json
        |{"doc_id": 2, "text": "also good"}
        |""".stripMargin)
    // (collect before inspecting _corrupt — Spark disallows queries
    // touching ONLY the corrupt column on raw json scans)
    val rows = Jsonl.read(spark, dirtyDir, Jsonl.withCorruptColumn(schema)).collect()
    assert(rows.count(r => !r.isNullAt(r.fieldIndex(Jsonl.CorruptColumn))) == 1)
    assert(rows.count(r => r.isNullAt(r.fieldIndex(Jsonl.CorruptColumn))) == 2)
    // failFast aborts on the first bad line instead
    val ex = intercept[org.apache.spark.SparkException] {
      Jsonl.read(spark, dirtyDir, schema, failFast = true).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("malformed") ||
      Option(ex.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("string dialect: mysql backslash escapes decode, parity-correct trailing backslash") {
    import graft.ingest.{InsertParser, StatementSplitter}
    // mysql mode (no standard_conforming_strings marker): full escape set
    val my = InsertParser.parse(
      """INSERT INTO t (a, b, c, d) VALUES ('it\'s', 'trail\\', 'line\nbrk', 'lit\%pct');""")
      .get.values.map { case InsertParser.SqlString(v) => v; case other => other.toString }
    assert(my == Vector("it's", "trail\\", "line\nbrk", "lit\\%pct"))
    // the pre-r17 single-char check read 'trail\\' as an escaped quote
    // and swallowed the delimiter - the statement then mis-split; with
    // parity the splitter keeps two statements two
    val blob = "INSERT INTO t (a) VALUES ('trail\\\\');\nINSERT INTO t (a) VALUES ('x');"
    val stmts = StatementSplitter.split(blob).filter(_.kind == graft.model.StatementKind.InsertInto)
    assert(stmts.size == 2, stmts.map(_.text))

    // pg mode (marker present): backslash is LITERAL - a string ending
    // in a backslash closes at its quote, and backslash-before-quote
    // content survives the '' doubling undamaged (the old chained
    // .replace collapsed \' after '' handling: x'y instead of x\'y)
    val pgBlob = "SET standard_conforming_strings = on;\n" +
      "INSERT INTO t (a, b) VALUES ('a\\', 'x\\''y');"
    assert(StatementSplitter.pgStrings(pgBlob))
    val pgStmts = StatementSplitter.split(pgBlob)
      .filter(_.kind == graft.model.StatementKind.InsertInto)
    assert(pgStmts.size == 1)
    val pgVals = InsertParser.parse(pgStmts.head.text, pgStrings = true)
      .get.values.collect { case InsertParser.SqlString(v) => v }
    assert(pgVals == Vector("a\\", "x\\'y"), pgVals)
  }

  test("string dialect: 0x hex blobs pass through verbatim, mysql control escapes decode") {
    import graft.ingest.InsertParser
    val ins = InsertParser.parse(
      "INSERT INTO t (a, b) VALUES (0xDEADBEEF, '\\Z\\0\\t');").get
    assert(ins.values.head == InsertParser.SqlRaw("0xDEADBEEF"))
    assert(ins.values(1) == InsertParser.SqlString("\u001a\u0000\t"))
  }
  test("string dialect: marker honored pre-data only; chunked multi-file dumps inherit the first part's dialect") {
    import graft.ingest.{DumpReader, StatementSplitter}
    // a MySQL string literal CONTAINING the marker text must not flip
    // the blob to pg rules — the marker is a header declaration, and
    // here it sits inside the first DATA statement (ADVICE r17)
    val trojan =
      "INSERT INTO t (a) VALUES ('x\nSET standard_conforming_strings = on;\ny');\n" +
        "INSERT INTO t (b) VALUES ('it\\'s');"
    assert(!StatementSplitter.pgStrings(trojan))
    // a real header (marker before any data statement) still declares pg
    assert(StatementSplitter.pgStrings(
      "SET standard_conforming_strings = on;\nINSERT INTO t (a) VALUES ('x');"))
    // chunked dump: only part 0 carries the header. The pg-dialect
    // trailing-backslash literal in the HEADERLESS part 1 must scan
    // under pg rules — per-blob detection gave it MySQL rules, which
    // swallow the closing quote and mis-split the statement
    val dir = tempDir("graft-dialect-multi-")
    java.nio.file.Files.writeString(dir.resolve("part-000.sql"),
      "SET standard_conforming_strings = on;\n" +
        "CREATE TABLE public.t (a text);\n" +
        "INSERT INTO public.t (a) VALUES ('first');\n")
    java.nio.file.Files.writeString(dir.resolve("part-001.sql"),
      "INSERT INTO public.t (a) VALUES ('a\\');\n" +
        "INSERT INTO public.t (a) VALUES ('second');\n")
    val stmts = DumpReader.statements(spark, dir.toString)
    val vals = DumpReader.tableFromDump(stmts, "public", "t")
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("first", "a\\", "second"), vals)
    // the DSv2 path applies the identical floor
    val viaDsv2 = spark.read.format("graft.ingest.SqlDumpSource")
      .load(dir.toString)
    assert(viaDsv2.filter(viaDsv2("kind") === "insert_into")
      .select("pgStrings").collect().forall(_.getBoolean(0)))
  }

  test("ddl: dialect detection and explicit-namespace extraction for restore-leg replay") {
    import graft.ingest.{Ddl, StatementSplitter}
    assert(Ddl.dialect("CREATE TABLE `users` (\n  `id` int NOT NULL\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;")
      .contains("mysql"))
    assert(Ddl.dialect("CREATE TABLE public.exotic (b bytea, js jsonb, uid uuid);")
      .contains("pg"))
    // valid in both dialects -> ambiguous -> fidelity default applies
    assert(Ddl.dialect("CREATE TABLE t (a integer, b text);").isEmpty)
    // identifier quoting votes (r19): the engine's own synthesized DDL
    // (double-quoted idents, no type markers) must read as pg so the
    // mysql restore leg falls back to mysql-synthesized DDL instead of
    // replaying "ident" quoting MySQL rejects
    assert(Ddl.dialect(
      "CREATE TABLE IF NOT EXISTS \"prices\" (\"id\" bigint, \"zip\" text);")
      .contains("pg"))
    assert(Ddl.dialect("CREATE TABLE `t2` (a int);").contains("mysql"))
    // quote chars inside string DEFAULTS don't vote
    assert(Ddl.dialect("CREATE TABLE t (a text DEFAULT '\"', b text DEFAULT '`');").isEmpty)
    assert(StatementSplitter.tableRefExplicit("CREATE TABLE public.t (a int);")
      .contains((Some("public"), "t")))
    assert(StatementSplitter.tableRefExplicit("CREATE TABLE `users` (a int);")
      .contains((None: Option[String], "users")))
    assert(StatementSplitter.tableRefExplicit("CREATE TABLE IF NOT EXISTS s.t (a int);")
      .contains((Some("s"), "t")))
  }

  test("tableRef: quoted identifiers containing dots and spaces name the right namespace/table (ADVICE r18)") {
    import graft.ingest.StatementSplitter.{tableRef, tableRefExplicit}
    // a dot INSIDE quotes is part of the identifier, not a qualifier
    assert(tableRef("CREATE TABLE \"my.schema\".\"t\" (a int);")
      .contains(("my.schema", "t")))
    assert(tableRefExplicit("CREATE TABLE \"my.schema\".\"my table\" (a int);")
      .contains((Some("my.schema"), "my table")))
    // a space inside the SECOND quoted segment stays one word
    assert(tableRef("INSERT INTO \"s\".\"order lines\" (a) VALUES (1);")
      .contains(("s", "order lines")))
    assert(tableRef("INSERT INTO `w.x`.`y` (a) VALUES (1);")
      .contains(("w.x", "y")))
    assert(tableRef("COPY \"a.b\".\"c d\" (x) FROM stdin;")
      .contains(("a.b", "c d")))
    // a single quoted name with a dot is a TABLE in the default schema
    assert(tableRefExplicit("CREATE TABLE \"dotted.name\" (a int);")
      .contains((None: Option[String], "dotted.name")))
    // unquoted behavior unchanged
    assert(tableRef("ALTER TABLE ONLY public.orders ADD CONSTRAINT c PRIMARY KEY (id);")
      .contains(("public", "orders")))
  }

  test("chunked spool: parts concatenate byte-exactly, cut only at statement boundaries, and re-split identically (r19)") {
    import graft.ingest.{ChunkedSpool, DumpReader, StatementSplitter}
    // statements chosen to make a NAIVE byte/line cut wrong: multiline
    // string literals containing ';' at line ends, pg dialect marker in
    // the header, a trailing comment
    val stmts = Seq(
      "SET standard_conforming_strings = on;",
      "CREATE TABLE public.t (a text);",
      "INSERT INTO public.t (a) VALUES ('line one;\nline two;\nand ''three''');",
      "INSERT INTO public.t (a) VALUES ('x');",
      "INSERT INTO public.t (a) VALUES ('trail\\');",
      "INSERT INTO public.t (a) VALUES ('ümlaut 中文 value;\nstill inside');",
      "-- trailing comment")
    val whole = stmts.mkString("\n") + "\n"
    val dir = tempDir("graft-chunkspool-")
    val written = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    val parts = ChunkedSpool.write(i => {
      val p = dir.resolve(f"part-$i%05d.sql"); written += p
      new java.io.FileOutputStream(p.toFile)
    }, pg = Some(true), chunkBytes = 48) { o =>
      // dribble bytes in odd-sized slices so multibyte chars and
      // statement boundaries straddle write() calls
      val bytes = whole.getBytes("UTF-8")
      var off = 0
      while (off < bytes.length) {
        val n = math.min(7, bytes.length - off)
        o.write(bytes, off, n); off += n
      }
    }
    assert(parts > 2, s"expected multiple parts, got $parts")
    // byte-exact concatenation
    val cat = written.flatMap(p => java.nio.file.Files.readAllBytes(p).toSeq)
    assert(cat == whole.getBytes("UTF-8").toSeq)
    // every part splits on its own to complete statements (no part ends
    // mid-statement except possibly the last, which here is complete)
    val viaParts = written.flatMap(p =>
      StatementSplitter.split(java.nio.file.Files.readString(p), Some(true)))
    val viaWhole = StatementSplitter.split(whole, Some(true))
    assert(viaParts.map(r => (r.kind, r.text)) == viaWhole.map(r => (r.kind, r.text)))
    // and the production reader over the spool DIRECTORY agrees; each
    // part is its own whole-file parse unit (the idx high bits carry
    // the file rank — Spark may pack small files into fewer tasks, but
    // 100 MB production parts get one task each)
    val ds = DumpReader.statements(spark, dir.toString)
    val fileRanks = ds.collect().map(_.idx >> 40).distinct.length
    assert(fileRanks == parts, s"expected $parts parse units, got $fileRanks")
    val vals = DumpReader.tableFromDump(ds, "public", "t")
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("line one;\nline two;\nand 'three'", "x", "trail\\",
      "ümlaut 中文 value;\nstill inside"), vals)
    // an empty stream still spools one (empty) part — listing finds it
    val dir2 = tempDir("graft-chunkspool-empty-")
    val p2 = ChunkedSpool.write(i => new java.io.FileOutputStream(
      dir2.resolve(f"part-$i%05d.sql").toFile), pg = Some(true), chunkBytes = 48)(_ => ())
    assert(p2 == 1)

    // pg = None (the stdin pipe, tool unknown): the dialect comes from
    // the stream's own header at the first roll. A MySQL stream whose
    // value ends in an escaped quote ('…\'') cuts correctly only under
    // MySQL rules — a pg-rules scan would place the boundary INSIDE the
    // string and the parts would re-split differently
    val myStmts = Seq(
      "-- MySQL dump 10.13  Distrib 8.0.28",
      "INSERT INTO t (a) VALUES ('it\\'s a long-ish mysql value');",
      "INSERT INTO t (a) VALUES ('ends escaped\\'');",
      "INSERT INTO t (a) VALUES ('plain');")
    val myWhole = myStmts.mkString("\n") + "\n"
    val dir3 = tempDir("graft-chunkspool-my-")
    val myWritten = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    val myParts = ChunkedSpool.write(i => {
      val p = dir3.resolve(f"part-$i%05d.sql"); myWritten += p
      new java.io.FileOutputStream(p.toFile)
    }, pg = None, chunkBytes = 40)(o => o.write(myWhole.getBytes("UTF-8")))
    assert(myParts > 1)
    val myViaParts = myWritten.flatMap(p =>
      StatementSplitter.split(java.nio.file.Files.readString(p), Some(false)))
    assert(myViaParts.map(r => (r.kind, r.text)) ==
      StatementSplitter.split(myWhole, Some(false)).map(r => (r.kind, r.text)))
  }

  test("r19 review fixes: non-UTF-8 chunk streams, string-desync dialect votes, quoted FK names, parens in quoted idents") {
    import graft.ingest.{ChunkedSpool, Ddl, StatementSplitter}
    // (1) a latin1/SQL_ASCII dump stream (invalid UTF-8 bytes) chunks
    // byte-exactly — a UTF-8 scan would decode 0xE9 to U+FFFD and the
    // re-encoded cut would shift real bytes
    val latin1Stmts = Seq(
      "SET standard_conforming_strings = on;",
      "INSERT INTO t (a) VALUES ('café latin1');", // é as ONE byte below
      "INSERT INTO t (a) VALUES ('plain');",
      "INSERT INTO t (a) VALUES ('more éè');")
    val latin1Bytes = (latin1Stmts.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(latin1Bytes.exists(b => (b & 0xff) == 0xe9)) // genuinely invalid UTF-8
    val dir = tempDir("graft-latin1-spool-")
    val written = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    val parts = ChunkedSpool.write(i => {
      val p = dir.resolve(f"part-$i%05d.sql"); written += p
      new java.io.FileOutputStream(p.toFile)
    }, pg = None, chunkBytes = 40)(o => o.write(latin1Bytes))
    assert(parts > 1)
    val cat = written.flatMap(p => java.nio.file.Files.readAllBytes(p).toSeq)
    assert(cat == latin1Bytes.toSeq, "non-UTF-8 stream must pass through byte-exactly")

    // (2) dialect votes survive string-rule desync: a MySQL \' inside a
    // COMMENT must not leak a double quote into the pg vote
    assert(Ddl.dialect(
      "CREATE TABLE `t` (a varchar(20) COMMENT 'don\\'t use \"raw\"') ENGINE=InnoDB;")
      .contains("mysql"))
    // engine-synthesized DDL still votes pg
    assert(Ddl.dialect("CREATE TABLE IF NOT EXISTS \"prices\" (\"id\" bigint);")
      .contains("pg"))

    // (3) FK extraction agrees with tableRef on dotted quoted names
    val fk = Ddl.foreignKey(
      "ALTER TABLE ONLY \"my.schema\".\"orders\" ADD CONSTRAINT c " +
        "FOREIGN KEY (uid) REFERENCES \"my.schema\".\"users\" (id);").get
    assert(fk.fromDatabase == "my.schema" && fk.fromTable == "orders")
    assert(fk.toDatabase == "my.schema" && fk.toTable == "users" && fk.toCol == "id")

    // (4) parens inside a quoted identifier stay part of the name
    assert(StatementSplitter.tableRef("CREATE TABLE \"items(2024)\" (a int);")
      .contains(("public", "items(2024)")))
    assert(StatementSplitter.tableRef("CREATE TABLE t(a int);")
      .contains(("public", "t")))
  }

  test("dialect floor is scoped to headerless files: a mysqldump in a mixed directory keeps MySQL rules (ADVICE r18)") {
    import graft.ingest.{DumpReader, StatementSplitter}
    // banner recognition: mysqldump's own header, pre-data only
    assert(StatementSplitter.mysqlHeader(
      "-- MySQL dump 10.13  Distrib 8.0.28, for macos10.15 (x86_64)\nINSERT INTO t (a) VALUES (1);"))
    assert(StatementSplitter.mysqlHeader(
      "/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;\nINSERT INTO t (a) VALUES (1);"))
    assert(!StatementSplitter.mysqlHeader(
      "INSERT INTO t (a) VALUES ('x');\n-- MySQL dump 10.13 inside data"))

    // directory mixing a pg dump (ranked first, carries the pg marker)
    // with a standalone mysqldump: the pg floor must NOT force pg
    // string rules onto the file that declares itself MySQL, while a
    // genuinely headerless chunk still inherits the floor
    val dir = tempDir("graft-dialect-mixed-")
    java.nio.file.Files.writeString(dir.resolve("a-pg.sql"),
      "SET standard_conforming_strings = on;\n" +
        "CREATE TABLE public.t (a text);\n" +
        "INSERT INTO public.t (a) VALUES ('first');\n")
    java.nio.file.Files.writeString(dir.resolve("b-mysql.sql"),
      "-- MySQL dump 10.13  Distrib 8.0.28\n" +
        "/*!40101 SET NAMES utf8mb4 */;\n" +
        "INSERT INTO m (a) VALUES ('it\\'s');\n")
    java.nio.file.Files.writeString(dir.resolve("c-headerless.sql"),
      "INSERT INTO public.t (a) VALUES ('a\\');\n")
    val stmts = DumpReader.statements(spark, dir.toString)
    // under pg rules 'it\'s' mis-scans (backslash is literal, the
    // string closes at \') — MySQL rules decode it to it's
    val mysqlVals = DumpReader.tableFromDump(stmts, "public", "m")
      .collect().map(_.getString(0)).toSet
    assert(mysqlVals == Set("it's"), mysqlVals)
    // the headerless chunk sibling keeps the pg floor: trailing
    // backslash literal survives
    val pgVals = DumpReader.tableFromDump(stmts, "public", "t")
      .collect().map(_.getString(0)).toSet
    assert(pgVals == Set("first", "a\\"), pgVals)
    // DSv2 applies the identical scoping
    val viaDsv2 = spark.read.format("graft.ingest.SqlDumpSource").load(dir.toString)
    val byTable = viaDsv2.filter(viaDsv2("kind") === "insert_into")
      .select("table", "pgStrings").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(byTable == Set(("t", true), ("m", false)), byTable)
  }

  test("r19 ADVICE: apostrophe inside a quoted identifier never opens a string in the dialect probe") {
    import graft.ingest.Ddl
    // the strip scanner drops ident content but keeps the delimiters —
    // they ARE the vote
    assert(Ddl.stripStrings("CREATE TABLE \"it's\" (a text DEFAULT 'v');",
      mysqlRules = false) == "CREATE TABLE \"\" (a text DEFAULT '');")
    assert(Ddl.stripStrings("CREATE TABLE `don't` (a text DEFAULT 'v\\'s');",
      mysqlRules = true) == "CREATE TABLE `` (a text DEFAULT '');")
    // quoted-ident apostrophes vote their own dialect cleanly
    assert(Ddl.dialect("CREATE TABLE \"it's\" (\"id\" bigint);").contains("pg"))
    assert(Ddl.dialect("CREATE TABLE `don't` (`id` int) ENGINE=InnoDB;")
      .contains("mysql"))
    // the regex strip desynced HERE: under pg string rules the ident's
    // apostrophe opened a literal that swallowed up to DEFAULT's quote,
    // leaking 'x "y"' into the text so the double quote voted pg and a
    // confirmed-mysql DDL flipped to ambiguous
    assert(Ddl.dialect("CREATE TABLE `don't` (a int, b text DEFAULT 'x \"y\"');")
      .contains("mysql"))
  }

  test("r19 ADVICE: a stream ending exactly on a roll boundary writes no zero-byte trailing part") {
    import graft.ingest.ChunkedSpool
    val stmt = "SELECT 1;\n" // 10 bytes — exactly one chunk below
    val dir = tempDir("graft-spool-exact-")
    val written = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    val parts = ChunkedSpool.write(i => {
      val p = dir.resolve(f"part-$i%05d.sql"); written += p
      new java.io.FileOutputStream(p.toFile)
    }, pg = Some(true), chunkBytes = stmt.length) { o =>
      o.write(stmt.getBytes("UTF-8")); o.write(stmt.getBytes("UTF-8"))
    }
    assert(parts == 2, s"expected 2 parts (no empty tail), got $parts")
    assert(written.forall(p => java.nio.file.Files.size(p) > 0))
    assert(written.flatMap(p => java.nio.file.Files.readAllBytes(p).toSeq)
      == (stmt + stmt).getBytes("UTF-8").toSeq)
    // the truly empty stream still spools exactly one (empty) part
    val dir2 = tempDir("graft-spool-empty-")
    val p2 = ChunkedSpool.write(i => new java.io.FileOutputStream(
      dir2.resolve(f"part-$i%05d.sql").toFile), pg = Some(true))(_ => ())
    assert(p2 == 1)
  }
}
