package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TransformerBinding

/** Column anonymization transformers (SURVEY §2.6, T1–T10).
  *
  * Reference registry: `replibyte/src/transformer/mod.rs:25-37`; each
  * transformer maps one cell to an anonymized cell, type-sensitively
  * (non-matching types pass through).
  *
  * Design departures from the reference, both deliberate:
  *   - Everything is a Catalyst `Column` expression built from
  *     `org.apache.spark.sql.functions` — whole-stage-codegen'd, no UDF,
  *     no per-row interpretation (the reference interprets per row in
  *     Rust: `transformer/mod.rs:40-87`).
  *   - The reference's *random* fakes (email, names, phone, credit card,
  *     random string/date — `transformer/email.rs:59-71` etc.) are
  *     re-specified as *deterministic seeded derivations* of the input
  *     (md5-based). Same anonymization guarantees (original value is not
  *     recoverable without inverting md5 prefixes; format and length
  *     invariants preserved) but reproducible — required for the DuckDB
  *     oracle and generally desirable for stable test fixtures. Every
  *     construct used (md5, substr, translate, ascii, repeat, ||) has
  *     identical semantics in Spark SQL and ANSI/DuckDB SQL.
  */
object Transformers {

  /** 16 fixed fake first names indexed by the first md5 hex char of the
    * input (ascii '0'..'9' = 48..57, 'a'..'f' = 97..102 → pmod 16).
    */
  val firstNames: Seq[String] = Seq(
    "Alice", "Bob", "Carol", "David", "Emma", "Frank", "Grace", "Henry",
    "Iris", "Jack", "Karen", "Liam", "Mona", "Noah", "Olga", "Peter")

  private def md5c(c: Column): Column = md5(c.cast("string"))

  /** Digits-only string of length n derived from the input: md5 hex with
    * the letters a-f mapped to digits. Identical in DuckDB:
    * `translate(substr(md5(x),1,n),'abcdef','012345')`.
    */
  private def hashDigits(c: Column, n: Int): Column =
    translate(substring(md5c(c), 1, n), "abcdef", "012345")

  /** T1 `email` — fake safe email; empty string preserved
    * (`transformer/email.rs:59-71`).
    */
  def email(c: Column): Column =
    when(length(c) === 0, c)
      .otherwise(concat(substring(md5c(c), 1, 12), lit("@example.com")))

  def emailSql(x: String): String =
    s"CASE WHEN length($x) = 0 THEN $x ELSE substr(md5($x),1,12) || '@example.com' END"

  /** T2 `first-name` — fake first name; empty preserved
    * (`transformer/first_name.rs:57-79`).
    */
  def firstName(c: Column): Column = {
    val idx = pmod(ascii(substring(md5c(c), 1, 1)), lit(16))
    when(length(c) === 0, c)
      .otherwise(element_at(array(firstNames.map(lit): _*), idx + 1))
  }

  def firstNameSql(x: String): String = {
    val arr = firstNames.map(n => s"'$n'").mkString("[", ", ", "]")
    s"CASE WHEN length($x) = 0 THEN $x ELSE ($arr)[(ascii(substr(md5($x),1,1)) % 16) + 1] END"
  }

  /** T3 `phone-number` — fake +1-555 number (`transformer/phone_number.rs:56-63`). */
  def phoneNumber(c: Column): Column =
    concat(lit("+1555"), hashDigits(c, 7))

  def phoneNumberSql(x: String): String =
    s"'+1555' || translate(substr(md5($x),1,7),'abcdef','012345')"

  /** T4 `credit-card` — fake 16-digit card starting with 4
    * (`transformer/credit_card.rs:57-64`).
    */
  def creditCard(c: Column): Column =
    concat(lit("4"), hashDigits(c, 15))

  def creditCardSql(x: String): String =
    s"'4' || translate(substr(md5($x),1,15),'abcdef','012345')"

  /** T5 `random` on strings — alphanumeric replacement of the SAME
    * length (`transformer/random.rs:57-66`): md5 hex repeated to cover
    * the input length, truncated. Length invariant preserved.
    */
  def randomSameLen(c: Column): Column = {
    val reps = (ceil(length(c) / lit(32.0)) + lit(1)).cast("int")
    when(length(c) === 0, c)
      .otherwise(call_function("repeat", md5c(c), reps).substr(lit(1), length(c)))
  }

  def randomSameLenSql(x: String): String =
    s"CASE WHEN length($x) = 0 THEN $x ELSE " +
      s"substr(repeat(md5($x), CAST(ceil(length($x) / 32.0) AS INT) + 1), 1, length($x)) END"

  /** T5 `random` on integers — deterministic replacement value derived
    * from the input (`transformer/random.rs:67-73` draws a random i128;
    * we derive one from the md5 digits so it is reproducible).
    */
  def randomLong(c: Column): Column =
    hashDigits(c, 15).cast("long")

  def randomLongSql(x: String): String =
    s"CAST(translate(substr(md5(CAST($x AS VARCHAR)),1,15),'abcdef','012345') AS BIGINT)"

  /** T5 `random` on doubles (`transformer/random.rs:74-77`). */
  def randomDouble(c: Column): Column =
    (hashDigits(c, 15).cast("long") / lit(1e6)).cast("double")

  /** T6 `keep-first-char` — strings keep the first char when longer than
    * one; numbers keep the leading digit with sign
    * (`transformer/keep_first_char.rs:66-93`: repeated /10 → sign kept).
    */
  def keepFirstChar(c: Column): Column =
    when(length(c) > 1, substring(c, 1, 1)).otherwise(c)

  def keepFirstCharSql(x: String): String =
    s"CASE WHEN length($x) > 1 THEN substr($x,1,1) ELSE $x END"

  def keepFirstDigit(c: Column): Column =
    when(c < 0, -substring(abs(c).cast("string"), 1, 1).cast(LongType))
      .otherwise(substring(abs(c).cast("string"), 1, 1).cast(LongType))

  def keepFirstDigitSql(x: String): String =
    s"CASE WHEN $x < 0 THEN -CAST(substr(CAST(abs($x) AS VARCHAR),1,1) AS BIGINT) " +
      s"ELSE CAST(substr(CAST(abs($x) AS VARCHAR),1,1) AS BIGINT) END"

  /** T7 `transient` — identity (`transformer/transient.rs:52-54`). */
  def transient(c: Column): Column = c

  /** T8 `redacted` — strings longer than 3 chars: first 3 + `character`
    * × `width` (defaults '*' × 10); shorter pass through
    * (`transformer/redacted.rs:79-98`, options `redacted.rs:14-27`).
    */
  def redacted(c: Column, character: Char = '*', width: Int = 10): Column =
    when(length(c) > 3, concat(substring(c, 1, 3), lit(character.toString * width)))
      .otherwise(c)

  def redactedSql(x: String, character: Char = '*', width: Int = 10): String =
    s"CASE WHEN length($x) > 3 THEN substr($x,1,3) || '${character.toString * width}' ELSE $x END"

  /** T10 `random-date` — declared but unimplemented in the reference
    * (`config.rs:287,331` `todo!()`); spec'd here as a deterministic
    * date in [2000-01-01, 2000-01-01 + 3650d) seeded by the input.
    */
  def randomDate(c: Column): Column = {
    val days = pmod(
      ascii(substring(md5c(c), 1, 1)) * 100 + ascii(substring(md5c(c), 2, 1)),
      lit(3650))
    date_add(lit("2000-01-01").cast("date"), days)
  }

  def randomDateSql(x: String): String = {
    val h = s"md5(CAST($x AS VARCHAR))"
    s"DATE '2000-01-01' + ((ascii(substr($h,1,1)) * 100 + ascii(substr($h,2,1))) % 3650)"
  }

  /** T9 extension point: user-registered transformers, the Spark
    * equivalent of the reference's WASM transformer
    * (`transformer/custom_wasm.rs:28-99`) — instead of piping every
    * cell through a WASM process, a plugin contributes a `Column`
    * expression factory under an id and binds it like any built-in, so
    * the user logic stays inside codegen. Process-boundary UDFs remain
    * possible (an `udf()` is a valid factory) but are opt-in.
    */
  private val custom =
    new scala.collection.concurrent.TrieMap[String, Column => Column]()

  def registerCustom(id: String, fn: Column => Column): Unit = custom.put(id, fn)

  /** Built-in transformer ids plus registered customs — the
    * `transformer list` surface (`transformers()`,
    * `replibyte/src/transformer/mod.rs:25-37`).
    */
  def ids: Seq[String] =
    (Seq("email", "first-name", "phone-number", "credit-card", "random",
      "keep-first-char", "transient", "redacted", "random-date") ++
      custom.keys.toSeq.sorted)

  /** Registry: transformer id → expression factory, mirroring
    * `transformers()` `replibyte/src/transformer/mod.rs:25-37`.
    */
  def byId(id: String, options: Map[String, String] = Map.empty): Column => Column = id match {
    case "email" => email
    case "first-name" => firstName
    case "phone-number" => phoneNumber
    case "credit-card" => creditCard
    case "random" => randomSameLen
    case "keep-first-char" => keepFirstChar
    case "transient" => transient
    case "redacted" =>
      val ch = options.getOrElse("character", "*").headOption.getOrElse('*')
      val w = options.getOrElse("width", "10").toInt
      redacted(_, ch, w)
    case "random-date" => randomDate
    case other => custom.getOrElse(other,
      throw new IllegalArgumentException(s"unknown transformer id: $other"))
  }

  /** Apply bindings to a table DataFrame, dispatching on column type the
    * way the reference dispatches on `Column` variants (non-matching
    * types pass through — `transformer/random.rs:57-82`). Resolution
    * happens once at plan-build time (the reference builds its lookup
    * map once per run, `source/postgres.rs:229-237`), so Catalyst sees
    * plain constant-folded expressions.
    */
  def applyBindings(df: DataFrame, bindings: Seq[TransformerBinding]): DataFrame = {
    val byColumn = bindings.map(b => b.column -> b).toMap
    val cols = df.schema.fields.map { f =>
      byColumn.get(f.name) match {
        case Some(b) => transformTyped(col(f.name), f.dataType, b).as(f.name)
        case None => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  private def transformTyped(c: Column, dt: DataType, b: TransformerBinding): Column =
    (b.transformerId, dt) match {
      case ("random", _: StringType) => randomSameLen(c)
      case ("random", ByteType | ShortType | IntegerType | LongType) => randomLong(c)
      case ("random", DoubleType | FloatType) => randomDouble(c)
      case ("random", _) => c
      case ("keep-first-char", _: StringType) => keepFirstChar(c)
      case ("keep-first-char", ByteType | ShortType | IntegerType | LongType) => keepFirstDigit(c)
      case ("keep-first-char", _) => c
      case ("random-date", DateType | TimestampType) => randomDate(c)
      // registered custom transformers see every type — the reference's
      // WASM transformer also receives all 5 value variants
      case (id, _) if custom.contains(id) => custom(id)(c)
      case (id, _: StringType) => byId(id, b.options)(c)
      case ("transient", _) => c
      case _ => c // type mismatch → pass through, reference semantics
    }
}
