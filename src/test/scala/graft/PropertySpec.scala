package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ingest.{InsertParser, StatementSplitter}
import graft.model.StatementKind

/** ScalaCheck-generator properties — the SURVEY §5 recommendations:
  * splitter escaping roundtrip, re-synthesis roundtrip, transformer
  * invariants (length preservation, prefix law, first-digit sign).
  * Sampled with fixed seeds so runs are deterministic.
  */
class PropertySpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val p = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(p, Seed(i.toLong)))
  }

  // printable-ish strings with the characters that stress the quote
  // state machine: quotes, semicolons, newlines, comment dashes
  private val trickyString: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('\'', ';', '\n', '-', ' ', '(', ')', '"'),
      1 -> Gen.oneOf('ü', '€', '中'))).map(_.mkString)

  test("property: INSERT re-synthesis → split → parse is the identity") {
    samples(Gen.zip(trickyString, Gen.chooseNum(-1000000L, 1000000L)), 200)
      .foreach { case (s, n) =>
        val ins = InsertParser.Insert(
          "public", "t", Vector("a", "b"),
          Vector(InsertParser.SqlString(s), InsertParser.SqlLong(n)))
        val stmt = InsertParser.toQuery(ins)
        // the statement survives the splitter as ONE statement...
        val split = StatementSplitter.split(stmt + "\n")
        assert(split.count(_.kind == StatementKind.InsertInto) == 1,
          s"splitter broke statement for ${s.take(40)}")
        // ...and parses back to the same values
        val back = InsertParser.parse(
          split.find(_.kind == StatementKind.InsertInto).get.text).get
        assert(back.values(0) == InsertParser.SqlString(s))
        assert(back.values(1) == InsertParser.SqlLong(n))
      }
  }

  test("property: as-of join equals the brute-force latest-at-or-before reference") {
    import java.sql.Timestamp
    val rowGen = Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 50L))
    samples(Gen.zip(Gen.listOfN(25, rowGen), Gen.listOfN(25, rowGen)), 12)
      .zipWithIndex.foreach { case ((lRows, rRows), caseIdx) =>
        val left = lRows.zipWithIndex.map { case ((k, t), i) =>
          (i.toLong, k, Timestamp.from(java.time.Instant.ofEpochSecond(t)))
        }.toDF("lid", "key", "ts")
        // dedupe right to one row per (key, ts) — the documented
        // determinism precondition matched by the max-payload rule
        val right = rRows.distinct.zipWithIndex.map { case ((k, t), i) =>
          (k, Timestamp.from(java.time.Instant.ofEpochSecond(t)), 1000L + i)
        }.groupBy(r => (r._1, r._2)).map { case (_, g) => g.maxBy(_._3) }
          .toSeq.toDF("key", "ts", "pay")
        val got = graft.ops.Joins.asofJoin(left, right, "key", "ts", Seq("pay"))
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
        // brute force on the driver
        val rSeq = right.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
        val want = left.collect().map { r =>
          val (lid, k, t) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
          val matches = rSeq.filter(x => x._1 == k && !x._2.after(t))
          lid -> (if (matches.isEmpty) -1L
            else matches.maxBy(x => (x._2.getTime, x._3))._3)
        }.toMap
        assert(got == want, s"as-of diverges from brute force (case $caseIdx)")
      }
  }

  test("property: binned range join equals the brute-force containment filter") {
    import java.sql.Timestamp
    def t(s: Long) = Timestamp.from(java.time.Instant.ofEpochSecond(s))
    val day = 86400L
    val tsGen = Gen.chooseNum(0L, 5 * day)            // five days of event times
    val ivGen = for {
      s <- Gen.chooseNum(0L, 4 * day)
      len <- Gen.chooseNum(0L, 2 * day)               // up to multi-day spans
    } yield (s, s + len)
    samples(Gen.zip(Gen.listOfN(30, tsGen), Gen.listOfN(6, ivGen)), 10)
      .zipWithIndex.foreach { case ((tss, ivs), caseIdx) =>
        val rows = tss.zipWithIndex.map { case (s, i) => (i.toLong, t(s)) }
          .toDF("row_id", "ts")
        val iv = ivs.zipWithIndex.map { case ((s, e), i) => (100L + i, t(s), t(e)) }
          .toDF("iv_id", "s", "e")
        val got = graft.ops.Joins.rangeJoinByDay(rows, "ts", iv, "s", "e")
          .select($"row_id", $"iv_id").as[(Long, Long)].collect().toSet
        val want = (for {
          (s, i) <- tss.zipWithIndex
          ((a, b), j) <- ivs.zipWithIndex
          if s >= a && s <= b
        } yield (i.toLong, 100L + j)).toSet
        assert(got == want, s"range join diverges from brute force (case $caseIdx)")
      }
  }

  test("property: global rank equals the window reference under duplicate scores") {
    import org.apache.spark.sql.expressions.Window
    samples(Gen.listOfN(60, Gen.chooseNum(0, 9)), 8).zipWithIndex.foreach {
      case (scores, caseIdx) =>
        val df = scores.zipWithIndex
          .map { case (s, i) => (i.toLong, s.toDouble) }.toDF("id", "score")
        val got = graft.ops.Sampling.globalRank(
            df, Seq($"score".desc, $"id".asc), numPartitions = 7)
          .select($"id", $"rank").as[(Long, Long)].collect().toMap
        val want = df.withColumn("rank",
            row_number().over(Window.orderBy($"score".desc, $"id".asc)).cast("long"))
          .select($"id", $"rank").as[(Long, Long)].collect().toMap
        assert(got == want, s"global rank diverges (case $caseIdx)")
    }
  }

  test("property: splitter never merges or drops statements") {
    val stmtGen = trickyString.map(s =>
      InsertParser.toQuery(InsertParser.Insert(
        "public", "t", Vector("a"), Vector(InsertParser.SqlString(s)))))
    samples(Gen.listOfN(5, stmtGen), 100).foreach { stmts =>
      val blob = stmts.mkString("\n")
      val split = StatementSplitter.split(blob)
      assert(split.count(_.kind == StatementKind.InsertInto) == stmts.length)
    }
  }

  test("property: chunked split == unchunked split for any statements × dialect × chunk boundaries (r18 verdict #7)") {
    // statement BOUNDARIES depend on the string-literal dialect (a pg
    // string ending in a backslash is complete; MySQL reads on through
    // the escaped quote), so the r18 dialect-floor fix must guarantee:
    // splitting a dump cut into chunks at statement boundaries, each
    // chunk under the FLOOR dialect, reassembles to exactly the
    // unchunked split. Values are generated to stress the boundary
    // cases: trailing backslashes, embedded quotes, semicolons,
    // newlines, comment dashes.
    def mysqlEscape(s: String): String =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    def pgEscape(s: String): String =
      "'" + s.replace("'", "''") + "'"
    val boundaryString: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('\'', '\\', ';', '\n', '-', ' ', '"'),
      1 -> Gen.oneOf('ü', '中'))).map(_.mkString)
    // statement SHAPES beyond plain INSERTs: full-line comments, CREATE
    // TABLE, COPY blocks (whose data lines are opaque — quotes and
    // semicolons inside must not move a boundary), and pg dollar-quoted
    // bodies; each generated case interleaves them with value INSERTs
    val copyBlock =
      "COPY public.t (a) FROM stdin;\nraw\tline;'with\\junk\nmore ' data\n\\."
    val dollarStmt =
      "CREATE FUNCTION f() RETURNS int AS $fn$ SELECT 1; -- not a split\n$fn$ LANGUAGE sql;"
    val caseGen = Gen.zip(
      Gen.oneOf(true, false), // pg dialect?
      Gen.listOfN(6, boundaryString),
      Gen.listOfN(5, Gen.chooseNum(0, 9)),
      Gen.listOfN(3, Gen.chooseNum(0, 3))) // shape picks
    samples(caseGen, 150).foreach { case (pg, vals, cutsRaw, shapes) =>
      val header =
        if (pg) "SET standard_conforming_strings = on;"
        else "-- MySQL dump 10.13  Distrib 8.0.28"
      val extras = shapes.map {
        case 0 => "-- a full-line comment"
        case 1 => "CREATE TABLE public.t (a text);"
        case 2 => copyBlock
        case _ if pg => dollarStmt
        case _ => "CREATE TABLE other (b int);"
      }
      val stmts = vals.map { v =>
        val lit = if (pg) pgEscape(v) else mysqlEscape(v)
        s"INSERT INTO t (a) VALUES ($lit);"
      } ++ extras
      val all = header +: stmts
      val whole = all.mkString("\n") + "\n"
      val expected = StatementSplitter.split(whole, Some(pg))
        .map(r => (r.kind, r.text))
      // cut the statement list at arbitrary boundaries; chunk 0 keeps
      // the header, later chunks are headerless (the pg_dump 100 MB
      // chunking shape)
      val cuts = cutsRaw.map(c => math.min(c, stmts.length)).distinct.sorted
      val pieces = (0 +: cuts :+ stmts.length).distinct.sorted
        .sliding(2).map { case Seq(a, b) => stmts.slice(a, b) }.toVector
      val chunks = (header +: pieces.head).mkString("\n") + "\n" ::
        pieces.tail.filter(_.nonEmpty).map(_.mkString("\n") + "\n").toList
      // the floor: chunk 0's own header decides (detection, not fiat),
      // exactly what DumpReader.statements / the DSv2 reader compute
      val floor = StatementSplitter.pgStrings(chunks.head) &&
        !StatementSplitter.mysqlHeader(chunks.head)
      assert(floor == pg, s"floor detection diverged: $floor vs $pg")
      val reassembled = chunks.flatMap(c =>
        StatementSplitter.split(c, Some(floor)).map(r => (r.kind, r.text)))
      assert(reassembled == expected.toList,
        s"chunked split diverged (pg=$pg, cuts=$cuts):\n$reassembled\nvs\n$expected")
      // and the parsed VALUES survive the chunked path exactly
      val parsed = reassembled.collect { case (StatementKind.InsertInto, text) =>
        InsertParser.parse(text, pgStrings = floor).get.values.head
      }
      assert(parsed == vals.map(InsertParser.SqlString(_)), s"values diverged (pg=$pg)")
    }
  }

  test("property: extended multi-row INSERTs roundtrip every row under both dialects (r19 — the \\'' bug's family)") {
    // the r19 scanner-ordering bug ('a\'' parsed to None) lived in the
    // value scanners that ALSO drive extended-INSERT row splitting —
    // fuzz parseMulti with N rows of boundary values per statement
    def mysqlEscape(s: String): String =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    def pgEscape(s: String): String =
      "'" + s.replace("'", "''") + "'"
    val boundaryString: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      4 -> Gen.oneOf('\'', '\\', ';', ',', '(', ')', '\n', ' '))).map(_.mkString)
    samples(Gen.zip(Gen.oneOf(true, false),
        Gen.chooseNum(1, 6), Gen.listOfN(6, boundaryString)), 200)
      .foreach { case (pg, nRows, pool) =>
        val rows = (0 until nRows).map(i => pool(i % pool.length) + s"#$i")
        val groups = rows.zipWithIndex.map { case (v, i) =>
          s"($i, ${if (pg) pgEscape(v) else mysqlEscape(v)})"
        }
        val stmt = s"INSERT INTO t (id, a) VALUES ${groups.mkString(", ")};"
        val parsed = InsertParser.parseMulti(stmt, pgStrings = pg)
        assert(parsed.isDefined, s"parseMulti None (pg=$pg): ${stmt.take(120)}")
        val got = parsed.get.map(_.values)
        assert(got.length == nRows, s"row count ${got.length} != $nRows (pg=$pg)")
        got.zip(rows).zipWithIndex.foreach { case ((vs, want), i) =>
          assert(vs(0) == InsertParser.SqlLong(i.toLong))
          assert(vs(1) == InsertParser.SqlString(want), s"row $i (pg=$pg)")
        }
      }
  }

  test("property: the chunked-dump e2e (files on disk, floor via DumpReader) matches the generated values") {
    // a thinner END-TO-END slice of the property above: real files,
    // real ranking, the production floor propagation in
    // DumpReader.statements — 6 sampled cases per dialect
    def mysqlEscape(s: String): String =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    def pgEscape(s: String): String =
      "'" + s.replace("'", "''") + "'"
    val boundaryString: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('\'', '\\', ';', '\n', ' '))).map(_.mkString)
    samples(Gen.zip(Gen.oneOf(true, false), Gen.listOfN(8, boundaryString),
        Gen.chooseNum(1, 7)), 12)
      .zipWithIndex.foreach { case ((pg, vals, cut), i) =>
        val dir = tempDir(s"graft-prop-chunks-$i-")
        val header =
          if (pg) "SET standard_conforming_strings = on;\n"
          else "-- MySQL dump 10.13  Distrib 8.0.28\n"
        val stmts = vals.zipWithIndex.map { case (v, j) =>
          val lit = if (pg) pgEscape(v) else mysqlEscape(v)
          s"INSERT INTO t (id, a) VALUES ($j, $lit);"
        }
        java.nio.file.Files.writeString(dir.resolve("part-000.sql"),
          header + stmts.take(cut).mkString("\n") + "\n")
        java.nio.file.Files.writeString(dir.resolve("part-001.sql"),
          stmts.drop(cut).mkString("\n") + "\n")
        val back = graft.ingest.DumpReader
          .tableFromDump(graft.ingest.DumpReader.statements(spark, dir.toString), "public", "t")
          .collect().map(r => r.getLong(r.fieldIndex("id")) ->
            r.getString(r.fieldIndex("a"))).toMap
        val expected = vals.zipWithIndex.map { case (v, j) => j.toLong -> v }.toMap
        assert(back == expected, s"e2e diverged (pg=$pg, cut=$cut)")
      }
  }

  test("property: T5 random preserves length, T8 redacted preserves prefix") {
    import graft.transform.Transformers
    val inputs = samples(trickyString, 80).filter(_.nonEmpty)
      // exclude newline-bearing values: this block tests transformer
      // laws on column values, not statement plumbing
      .map(_.replace('\n', ' '))
    val out = inputs.toDF("v").select(
      col("v"),
      Transformers.randomSameLen(col("v")).as("rnd"),
      Transformers.redacted(col("v")).as("red")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val v = r.getString(0); val rnd = r.getString(1); val red = r.getString(2)
      assert(rnd.length == v.length, s"T5 length changed for '$v'")
      if (v.length > 3) {
        assert(red == v.take(3) + "*" * 10, s"T8 shape wrong for '$v'")
      } else assert(red == v)
    }
  }

  test("property: keep-first-digit keeps sign and first digit") {
    import graft.transform.Transformers
    val ns = samples(Gen.chooseNum(-999999L, 999999L), 100)
    val out = ns.toDF("v")
      .select(col("v"), Transformers.keepFirstDigit(col("v")).as("k"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, k) =>
      val expected =
        if (n == 0) 0L
        else {
          val d = math.abs(n).toString.head.asDigit.toLong
          if (n < 0) -d else d
        }
      assert(k == expected, s"keepFirstDigit($n) = $k, expected $expected")
    }
  }

  test("property: chunk streams reconstruct the token stream for any window/stride") {
    import graft.ops.Sampling
    val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val docs = samples(Gen.listOf(wordGen), 100).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    for ((w, s) <- Seq((4, 4), (5, 3), (8, 2), (1, 1))) {
      val out = Sampling.chunkTokens(df, $"doc_id", $"text", w, s)
        .collect().groupBy(_.getAs[Long]("doc_id"))
      docs.foreach { case (id, text) =>
        val toks = text.split("\\s+").toSeq
        val chunks = out.getOrElse(id, Array.empty)
          .sortBy(_.getAs[Int]("chunk_idx")).map(_.getAs[String]("chunk_text")).toSeq
        // the first `stride` tokens of every chunk but the last, plus
        // the whole last chunk, must tile the original stream exactly —
        // no token lost, duplicated, or reordered by the overlap
        val rebuilt = chunks.dropRight(1).flatMap(_.split(" ").take(s)) ++
          chunks.takeRight(1).flatMap(_.split(" "))
        assert(rebuilt == toks, s"(w=$w s=$s) doc $id: $rebuilt != $toks")
      }
    }
  }

  test("property: budget select fills strictly-better buckets first and is monotone") {
    import graft.ops.Sampling
    val rows = samples(Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(1L, 50L)), 120)
      .zipWithIndex.map { case ((q, n), i) => (i.toLong, q, n) }
    val df = rows.toDF("id", "q", "n")
    val byBucket = rows.groupBy { case (_, q, _) => math.round(q * 1000) }
    var prev = Set.empty[Long]
    for (budget <- Seq(50L, 200L, 800L, 3000L, 1000000L)) {
      val sel = Sampling.budgetSelect(df, $"id", $"q", $"n", budget)
        .select($"doc_id", $"bucket").as[(Long, Long)].collect()
      val selIds = sel.map(_._1).toSet
      assert(prev.subsetOf(selIds), s"budget $budget lost rows a smaller budget selected")
      prev = selIds
      // bucket dominance: once ANY row of a bucket is taken, every
      // strictly better bucket is taken WHOLE
      val minSel = if (sel.isEmpty) Long.MaxValue else sel.map(_._2).min
      byBucket.foreach { case (b, rs) =>
        if (b > minSel)
          assert(rs.forall(r => selIds.contains(r._1)),
            s"budget $budget: bucket $b only partially taken though worse bucket $minSel was touched")
      }
    }
    // a budget beyond the corpus takes everything
    assert(prev == rows.map(_._1).toSet)
  }

  test("property: df-ordered PPJoin prefixes find exactly the lexical-prefix pair set") {
    // the prefix bound holds under ANY consistent global total order —
    // so rarest-first (the hot-gram guard) and lexical must verify to
    // the SAME pair set on any corpus, including dup-heavy ones with
    // skewed hot grams. A divergence here would be a silent recall
    // loss nothing downstream detects.
    val word: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("the", "of", "and", "data", "spark"), // hot grams
      4 -> Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString))
    val doc: Gen[String] = Gen.chooseNum(3, 18).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for (seed <- 0 until 3) {
      val texts = samples(doc, 60).zipWithIndex
        .map { case (t, i) => (i.toLong + seed * 1000, t) }
      // plant exact dups and near-dups so the pair set is non-trivial
      val planted = texts ++ texts.take(8).map { case (id, t) => (id + 500, t) } ++
        texts.slice(8, 12).map { case (id, t) => (id + 600, t + " tail") }
      val df = planted.toDF("doc_id", "text")
      def pairs(dfOrder: Boolean) =
        graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", $"text", 2, 0.6, dfOrder = dfOrder)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val lex = pairs(dfOrder = false)
      val rare = pairs(dfOrder = true)
      assert(lex == rare,
        s"seed=$seed: lexical-only ${lex.diff(rare)} / df-order-only ${rare.diff(lex)}")
      assert(lex.nonEmpty, s"seed=$seed produced no pairs — generator too weak to test anything")
      // With maxDocFreq > 0 (drop semantics), BOTH branches must key the
      // drop set on gram STRINGS — a hash-keyed drop could pool a rare
      // gram's df with a colliding hot one and silently lose a pair
      // (ADVICE r15). After the same drop, the df-ordered prefix reaches
      // at least as deep into the surviving grams as the lexical one
      // (dropping only shifts positions down), so its verified pair set
      // must be a superset of the lexical branch's.
      def pairsCapped(dfOrder: Boolean) =
        graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", $"text", 2, 0.6,
            maxDocFreq = 6L, dfOrder = dfOrder)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val lexCapped = pairsCapped(dfOrder = false)
      val rareCapped = pairsCapped(dfOrder = true)
      assert(lexCapped.subsetOf(rareCapped),
        s"seed=$seed capped: lexical-only pairs lost under df-order " +
          s"${lexCapped.diff(rareCapped)}")
      // every capped pair is a true >= threshold pair (drop only removes
      // candidates, verification is exact on the full gram arrays)
      assert(rareCapped.subsetOf(lex), s"seed=$seed capped produced a non-pair")
    }
  }

  test("property: URL normalization is idempotent and blocklist verdicts respect host suffixes") {
    import graft.ops.{TextAnalysis => TA}
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("a.example.com", "sub.a.example.com", "b.example.org", "aexample.com")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/p", "/p/", "/p/q")
      track <- Gen.oneOf("", "?utm_source=x", "?a=1&utm_campaign=y", "?utm_medium=z&a=1")
      frag <- Gen.oneOf("", "#sec")
    } yield s"$scheme://$www$host$port$path$track$frag"
    val urls = samples(urlGen, 250)
    val df = urls.toDF("url")
      .select($"url", TA.normalizeUrl($"url").as("n1"))
      .select($"url", $"n1", TA.normalizeUrl($"n1").as("n2"),
        TA.urlBlocked($"n1", Seq("a.example.com"), Seq("q")).as("blocked"),
        TA.urlHost($"n1").as("host"))
    df.as[(String, String, String, Boolean, String)].collect().foreach {
      case (url, n1, n2, blocked, host) =>
        assert(n1 == n2, s"normalizeUrl not idempotent: $url → $n1 → $n2")
        assert(!n1.contains("utm_"), s"tracking param survived: $url → $n1")
        // blocked iff host is a.example.com or a subdomain of it, or /q in path
        val domHit = host == "a.example.com" || host.endsWith(".a.example.com")
        val tokHit = n1.toLowerCase.split("://", 2)(1).dropWhile(_ != '/').contains("q")
        assert(blocked == (domHit || tokHit),
          s"verdict mismatch for $url → $n1 (host=$host): got $blocked")
    }
    // aexample.com must NOT match the a.example.com suffix rule
    val near = Seq("https://aexample.com/p").toDF("url")
      .select(TA.urlBlocked(TA.normalizeUrl($"url"), Seq("a.example.com"), Nil))
      .as[Boolean].collect()
    assert(!near(0), "suffix rule leaked across the dot boundary")
  }

  test("property: pageRank conserves mass on closed regular graphs of any size") {
    import graft.ops.LinkGraph
    for (n <- Seq(2, 5, 17, 64); d <- Seq(1, 3)) {
      val ids = (0L until n.toLong)
      val edges = ids.flatMap(u => (1 to d).map(k => (u, (u * 7 + k) % n)))
      val r = LinkGraph.pageRank(ids.toDF("id"), edges.toDF("src", "dst"), iters = 3)
        .as[(Long, Long)].collect()
      assert(r.length == n)
      // every dst exists → no dangling leak beyond integer-floor slack
      // (≤ ~1 quantum per node per round)
      val slack = 4L * n * 3
      assert(math.abs(r.map(_._2).sum - LinkGraph.Scale) <= slack,
        s"n=$n d=$d: mass ${r.map(_._2).sum} drifted beyond floor slack")
      assert(r.forall(_._2 > 0), "every node keeps at least the restart mass")
    }
  }
}
