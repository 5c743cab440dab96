package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the OTHER
  * production tokenizer family next to BPE ([[Vocab.bpeMergeRounds]]):
  * Kudo, "Subword Regularization: Improving Neural Network Translation
  * Models with Multiple Subword Candidates", ACL 2018 §3 — seed a large
  * substring vocabulary, iterate EM over the best segmentation of the
  * corpus under the current piece probabilities, and prune the lowest-
  * value pieces until the vocabulary reaches its target size. This
  * implementation is the hard-EM (Viterbi-count) variant: the E-step
  * takes each word's single best segmentation instead of the full
  * forward-backward expectation — the same approximation the published
  * trainer uses for its final encode pass, chosen here because every
  * count stays an exact integer (cross-engine hashable).
  *
  * Scale shape — everything after the first pass operates on the WORD
  * table, never the corpus:
  *   - ONE corpus-sized wordcount shuffle builds (word, freq); by
  *     Heaps' law the word table is ~√corpus (100M rows at 100 TB),
  *     and every later step is an equi-join or aggregation on that
  *     skinny frame, fully distributed;
  *   - the Viterbi DP unrolls over character positions 1..maxWordLen —
  *     each position is one union of ≤maxPieceLen substring probes
  *     joined to the (broadcast-small) piece table plus a per-word
  *     top-1 window (partitioned by word — thousands of tiny groups,
  *     never a global sort); the backtrack is the same loop in reverse,
  *     joining (word, pos) states to the stored backpointers;
  *   - each DP level is `localCheckpoint`ed (eager) because level i
  *     reads levels i−1..i−maxPieceLen: without a materialization
  *     point the lazy plan tree grows ~maxPieceLen^maxWordLen;
  *   - NOTHING collects to the driver: seed selection and pruning are
  *     `orderBy().limit()` (TakeOrderedAndProject), the probability
  *     normalizer is a 1-row frame broadcast back, and the driver loop
  *     only authors the DAG (cf. [[Vocab.bpeMergeRounds]], which does
  *     collect its per-round top-1 pair).
  *
  * Cross-engine exactness: counts and DP scores are integers (the one
  * `ln` is floor-quantized to integer millionths per PIECE, the KN
  * scorer's convention — see [[Vocab.knBigramLogProb]]); DP ties break
  * on (score desc, piece-length desc), a total order per word; pruning
  * ties break on (count desc, piece asc). Words are lowercase ASCII
  * letter runs (`[A-Za-z]+`) so both engines agree on `length` and
  * `substring`; runs longer than `maxWordLen` are excluded from
  * training (the published trainer likewise drops over-long sentences)
  * and fall back to char-count at encode time.
  */
object UnigramLm {

  /** `pruneMulti.size` is the number of EM rounds; round r keeps the
    * top `pruneMulti(r-1)` multi-char pieces (single chars are never
    * pruned — the feasibility floor, kept with add-one smoothing so an
    * unused char survives with a proper probability).
    */
  case class Config(maxWordLen: Int = 10, maxPieceLen: Int = 4,
                    seedMulti: Int = 160, pruneMulti: Seq[Int] = Seq(96, 48)) {
    require(maxWordLen >= 1 && maxPieceLen >= 1 && seedMulti >= 1 && pruneMulti.nonEmpty)
  }

  /** The corpus word table: lowercase letter runs ≤ maxWordLen, with
    * total occurrence counts. The single corpus-sized pass.
    */
  private def wordTable(df: DataFrame, text: Column, cfg: Config): DataFrame =
    df.select(explode(regexp_extract_all(lower(text), lit("[A-Za-z]+"), lit(0))).as("word"))
      .filter(length(col("word")) <= cfg.maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every substring of every word up to maxPieceLen,
    * occurrence-weighted; all single chars + the top `seedMulti`
    * multi-char pieces.
    */
  private def seedVocab(words: DataFrame, cfg: Config): DataFrame = {
    val subs = words.select(col("freq"), explode(flatten(
        transform(sequence(lit(1), length(col("word"))), i =>
          transform(sequence(lit(1), least(lit(cfg.maxPieceLen), length(col("word")) - i + lit(1))),
            l => col("word").substr(i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("n"))
    subs.filter(length(col("piece")) === 1)
      .unionByName(subs.filter(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece").asc).limit(cfg.seedMulti))
  }

  /** One EM round: quantized log-probs from `vocab` → Viterbi DP over
    * `words` → backtrack emissions (word, piece, freq). Returns the
    * emission frame; counts and pruning happen in the caller.
    */
  private def viterbiEmissions(words: DataFrame, vocab: DataFrame,
                               cfg: Config): DataFrame = {
    val tot = vocab.agg(sum(col("n")).as("tot"))
    val lp = Pins.checkpoint(vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(lit(1e6) * log(col("n").cast("double") / col("tot").cast("double")))
          .cast("long").as("lpq")), "unigram.logProbs")
    // forward DP: b(pos) = best (score, backpointer d) covering word[1..pos]
    val b = new Array[DataFrame](cfg.maxWordLen + 1)
    b(0) = words.select(col("word"), col("freq"), lit(0L).as("score"))
    for (pos <- 1 to cfg.maxWordLen) {
      val cands = (1 to math.min(cfg.maxPieceLen, pos)).map { d =>
        b(pos - d).filter(length(col("word")) >= pos)
          .select(col("word"), col("freq"), col("score"), lit(d).as("d"),
            col("word").substr(lit(pos - d + 1), lit(d)).as("piece"))
      }.reduce(_.unionByName(_))
      val scoredCands = cands.join(lp, Seq("piece"))
        .select(col("word"), col("freq"),
          (col("score") + col("lpq")).as("score"), col("d"))
      // per-word best (score desc, d desc): max over the (score, d)
      // struct — map-side partial aggregation, no per-level sort; freq
      // rides along (constant per word, never tie-breaks because
      // (score, d) is unique per word by construction)
      val best = scoredCands
        .groupBy(col("word"))
        .agg(max(struct(col("score"), col("d"), col("freq"))).as("m"))
        .select(col("word"), col("m.freq").as("freq"),
          col("m.score").as("score"), col("m.d").as("d"))
      // materialize every SECOND level (and the last): the driver-
      // sequential checkpoint jobs dominate wall time, not the compute —
      // an unmaterialized level re-derives from checkpointed
      // predecessors in one narrow pass, halving the job chain while
      // keeping the lazy plan tree bounded (≤ maxPieceLen² branch paths)
      b(pos) =
        if (pos % 2 == 0 || pos == cfg.maxWordLen) Pins.checkpoint(best, "unigram.viterbi.level")
        else best
    }
    val bp = Pins.checkpoint((1 to cfg.maxWordLen).map(p =>
        b(p).select(col("word"), lit(p).as("pos"), col("d")))
      .reduce(_.unionByName(_)), "unigram.viterbi.backpointers")
    // backtrack: walk (word, pos) states down the backpointers, emitting
    // the consumed piece at each step; all states reach pos=0 within
    // maxWordLen steps
    var state = words.select(col("word"), col("freq"), length(col("word")).as("pos"))
    val emissions = (1 to cfg.maxWordLen).map { _ =>
      val step = state.filter(col("pos") > 0).join(bp, Seq("word", "pos"))
      val em = step.select(col("word"), col("freq"),
        col("word").substr(col("pos") - col("d") + 1, col("d")).as("piece"))
      state = step.select(col("word"), col("freq"), (col("pos") - col("d")).as("pos"))
      em
    }
    emissions.reduce(_.unionByName(_))
  }

  /** The trainer's DAG is a deep chain of checkpointed DP levels, and
    * `localCheckpoint` preserves the source plan's CONSTRAINTS on the
    * returned `LogicalRDD` — so Catalyst's constraint propagation
    * compounds the substring/length predicates of every level into the
    * next (measured: a 240 KB inferred filter and ~4 s of optimizer +
    * codegen time PER LEVEL by round 2). Constraint inference buys
    * nothing here (every join input is already non-null, skinny, and
    * checkpointed), so the trainer builds its DAG with propagation off
    * and restores the caller's setting after — frames checkpointed
    * inside the window carry no constraints, keeping later plans flat.
    */
  /** SCOPE CAVEAT: the toggle is session-wide SQL conf — any UNRELATED
    * query running concurrently on the same SparkSession inside the
    * training window also optimizes without constraint propagation
    * (harmless for correctness, possibly a weaker plan). A per-trainer
    * scope would need the input frames re-rooted into a cloned session
    * (`spark.newSession()`), which frames built by the CALLER can't do
    * retroactively — so the trainer instead serializes on a JVM-wide
    * lock, which also makes the save/restore correct under interleaved
    * trainers (two unsynchronized trainers could otherwise restore each
    * other's transient "false" as the prior value).
    */
  private val trainerLock = new Object
  private def withoutConstraintPropagation[T](spark: SparkSession)(f: => T): T =
    trainerLock.synchronized {
      val key = "spark.sql.constraintPropagation.enabled"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try f finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

  /** Training loop; returns (final vocab (piece, n), final-round
    * emissions (word, freq, piece)) — the latter feeds the encode side.
    */
  private[graft] def trainParts(df: DataFrame, text: Column,
                                cfg: Config): (DataFrame, DataFrame, DataFrame) =
    withoutConstraintPropagation(df.sparkSession) {
      val words = Pins.checkpoint(wordTable(df, text, cfg), "unigram.words")
      var vocab = Pins.checkpoint(seedVocab(words, cfg), "unigram.vocab")
      var lastEm: DataFrame = null
      for (s <- cfg.pruneMulti) {
        // the round's Viterbi levels are released once its emissions
        // are materialized; a round's vocabulary and emissions once the
        // next round has superseded them
        val em = Pins.scopedCheckpoint("unigram.em")(viterbiEmissions(words, vocab, cfg))
        val counts = em.groupBy(col("piece")).agg(sum(col("freq")).as("n"))
        val singles = vocab.filter(length(col("piece")) === 1).select(col("piece"))
          .join(counts, Seq("piece"), "left")
          .select(col("piece"), (coalesce(col("n"), lit(0L)) + 1).as("n"))
        val multi = counts.filter(length(col("piece")) > 1)
          .orderBy(col("n").desc, col("piece").asc).limit(s)
        val prev = vocab
        vocab = Pins.checkpoint(singles.unionByName(multi), "unigram.vocab")
        Pins.release(prev)
        if (lastEm != null) Pins.release(lastEm)
        lastEm = em
      }
      (vocab, lastEm, words)
    }

  /** The trainer query: the final pruned vocabulary (piece, n) where n
    * is the piece's post-EM count (singles carry the add-one floor).
    */
  def train(df: DataFrame, text: Column, cfg: Config = Config()): DataFrame =
    trainParts(df, text, cfg)._1

  /** The encode side: per-document unigram-token counts under the
    * trained vocabulary — each word contributes its Viterbi piece count
    * (from the final EM round), over-long words fall back to one piece
    * per char. The per-word piece counts come from the trainer's own
    * emission frame, so encode is a vocabulary-sized equi-join, never a
    * re-segmentation.
    */
  def encodeTokenCounts(df: DataFrame, id: String, text: Column,
                        cfg: Config = Config(),
                        emissions: Option[DataFrame] = None): DataFrame = {
    val em = emissions.getOrElse(trainParts(df, text, cfg)._2)
    val wp = em.groupBy(col("word")).agg(count(lit(1)).as("n_pieces"))
    val docWords = df.select(col(id),
      explode(regexp_extract_all(lower(text), lit("[A-Za-z]+"), lit(0))).as("word"))
    val short = docWords.filter(length(col("word")) <= cfg.maxWordLen)
      .join(wp, Seq("word"))
      .select(col(id), col("n_pieces").as("np"))
    val long = docWords.filter(length(col("word")) > cfg.maxWordLen)
      .select(col(id), length(col("word")).cast("long").as("np"))
    val counts = short.unionByName(long)
      .groupBy(col(id)).agg(sum(col("np")).as("n_unigram_tokens"))
    // A document with no [A-Za-z] runs contributes no count row; the
    // training manifest must report it as ZERO tokens, not silently
    // drop it (a loader budgeting by this column would never see the
    // doc). Left-join back to the full id set — mirrored in encodeSql.
    df.select(col(id)).join(counts, Seq(id), "left")
      .select(col(id), coalesce(col("n_unigram_tokens"), lit(0L)).as("n_unigram_tokens"))
  }

  // ---------------------------------------------------------------
  // DuckDB mirror: the same rounds unrolled as CTEs (the
  // bpeMergesSql convention), identical operation order throughout.
  // ---------------------------------------------------------------

  /** CTE prefix through the final vocab and final-round emissions.
    * Every multiply-referenced CTE is MATERIALIZED — DuckDB inlines
    * CTEs by default, and the DP chain's fan-in (level i read by
    * levels i+1..i+maxPieceLen and the backpointer union) would
    * otherwise expand the plan — and the parquet open count —
    * exponentially (observed: fd exhaustion at maxWordLen 8).
    */
  private def sqlPrefix(cfg: Config, rel: String): String = {
    val L = cfg.maxWordLen
    val P = cfg.maxPieceLen
    val sb = new StringBuilder
    sb.append(
      s"""WITH w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[A-Za-z]+')) AS word FROM $rel)
         |  WHERE length(word) <= $L GROUP BY 1),
         |seed AS MATERIALIZED (SELECT substring(word, i, l) AS piece, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM w, range(1, ${L + 1}) r1(i), range(1, ${P + 1}) r2(l)
         |  WHERE i + l - 1 <= length(word) GROUP BY 1),
         |vocab0 AS MATERIALIZED (
         |  SELECT piece, n FROM seed WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, n FROM (SELECT piece, n FROM seed WHERE length(piece) > 1
         |    ORDER BY n DESC, piece LIMIT ${cfg.seedMulti}))""".stripMargin)
    for ((s, idx) <- cfg.pruneMulti.zipWithIndex) {
      val r = idx + 1
      sb.append(
        s""",
           |tot$r AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM vocab${r - 1}),
           |lp$r AS MATERIALIZED (SELECT piece, CAST(floor(1000000 * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))) AS BIGINT) AS lpq
           |  FROM vocab${r - 1} CROSS JOIN tot$r),
           |b${r}_0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS score FROM w)""".stripMargin)
      for (pos <- 1 to L) {
        val branches = (1 to math.min(P, pos)).map { d =>
          s"""    SELECT word, freq, score, $d AS d, substring(word, ${pos - d + 1}, $d) AS piece
             |      FROM b${r}_${pos - d} WHERE length(word) >= $pos""".stripMargin
        }.mkString("\n    UNION ALL\n")
        sb.append(
          s""",
             |c${r}_$pos AS (SELECT cand.word, cand.freq, cand.score + v.lpq AS score, cand.d FROM (
             |$branches
             |  ) cand JOIN lp$r v USING (piece)),
             |b${r}_$pos AS MATERIALIZED (SELECT word, freq, score, d FROM (
             |  SELECT *, row_number() OVER (PARTITION BY word ORDER BY score DESC, d DESC) AS rn
             |  FROM c${r}_$pos) WHERE rn = 1)""".stripMargin)
      }
      sb.append(",\nbp" + r + " AS MATERIALIZED (" + (1 to L).map(p =>
        s"SELECT word, $p AS pos, d FROM b${r}_$p").mkString("\n  UNION ALL ") + ")")
      sb.append(
        s""",
           |t${r}_0 AS (SELECT word, freq, length(word) AS pos FROM w)""".stripMargin)
      for (j <- 1 to L) {
        sb.append(
          s""",
             |t${r}_$j AS MATERIALIZED (SELECT t.word, t.freq, t.pos - b.d AS pos,
             |    substring(t.word, t.pos - b.d + 1, b.d) AS piece
             |  FROM (SELECT * FROM t${r}_${j - 1} WHERE pos > 0) t
             |  JOIN bp$r b ON t.word = b.word AND t.pos = b.pos)""".stripMargin)
      }
      sb.append(",\nem" + r + " AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n FROM (\n  "
        + (1 to L).map(j => s"SELECT piece, freq FROM t${r}_$j").mkString("\n  UNION ALL ")
        + ") GROUP BY 1)")
      sb.append(
        s""",
           |vocab$r AS MATERIALIZED (
           |  SELECT v.piece, COALESCE(e.n, 0) + 1 AS n
           |    FROM (SELECT piece FROM vocab${r - 1} WHERE length(piece) = 1) v
           |    LEFT JOIN em$r e USING (piece)
           |  UNION ALL
           |  SELECT piece, n FROM (SELECT piece, n FROM em$r WHERE length(piece) > 1
           |    ORDER BY n DESC, piece LIMIT $s))""".stripMargin)
    }
    sb.toString
  }

  /** [[train]] as DuckDB SQL over relation `rel`. */
  def trainSql(cfg: Config = Config(), rel: String = "documents"): String =
    sqlPrefix(cfg, rel) +
      s"\nSELECT piece, n FROM vocab${cfg.pruneMulti.size}"

  /** [[encodeTokenCounts]] as DuckDB SQL over relation `rel`. */
  def encodeSql(idCol: String, cfg: Config = Config(), rel: String = "documents"): String = {
    val T = cfg.pruneMulti.size
    val L = cfg.maxWordLen
    sqlPrefix(cfg, rel) +
      s""",
         |wp AS (SELECT word, CAST(count(*) AS BIGINT) AS n_pieces FROM (
         |  ${(1 to L).map(j => s"SELECT word, piece FROM t${T}_$j").mkString("\n  UNION ALL ")}
         |  ) GROUP BY 1),
         |dwords AS (SELECT $idCol, unnest(regexp_extract_all(lower(text), '[A-Za-z]+')) AS word FROM $rel),
         |counts AS (SELECT $idCol, CAST(SUM(np) AS BIGINT) AS n_unigram_tokens FROM (
         |  SELECT $idCol, n_pieces AS np FROM dwords JOIN wp USING (word) WHERE length(word) <= $L
         |  UNION ALL
         |  SELECT $idCol, CAST(length(word) AS BIGINT) AS np FROM dwords WHERE length(word) > $L)
         |GROUP BY 1)
         |SELECT $idCol, CAST(coalesce(n_unigram_tokens, 0) AS BIGINT) AS n_unigram_tokens
         |FROM (SELECT $idCol FROM $rel) LEFT JOIN counts USING ($idCol)""".stripMargin
  }
}
