package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Order-independent output checksums. A bare `count()` lets Catalyst
  * prune plan nodes, so every output is consumed through a hash of all
  * the columns the check compares: row count, XOR and (decimal) sum of
  * one 64-bit hash per row. Equal multisets give equal digests; a dropped,
  * added or altered row changes them.
  */
object Checks {

  final case class Digest(rows: Long, xor: Long, sum: BigDecimal) {
    override def toString: String = s"rows=$rows xor=$xor sum=$sum"
  }

  private def rowHash(cols: Seq[String]): Column =
    xxhash64(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  private def aggs(cols: Seq[String], tag: String): Seq[Column] = {
    val h = rowHash(cols)
    Seq(count(lit(1)).as(s"${tag}_n"), bit_xor(h).as(s"${tag}_x"),
      sum(h.cast("decimal(38,0)")).as(s"${tag}_s"))
  }

  private def digestAt(r: org.apache.spark.sql.Row, i: Int): Digest =
    Digest(r.getLong(i), if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1),
      if (r.isNullAt(i + 2)) BigDecimal(0) else BigDecimal(r.getDecimal(i + 2)))

  def digest(df: DataFrame, cols: Seq[String]): Digest =
    digestAt(df.agg(aggs(cols, "a").head, aggs(cols, "a").tail: _*).head(), 0)

  /** Two digests of one output in a single pass: over `all` columns (the
    * measured consumption) and over `key` columns (the check).
    */
  def digest2(df: DataFrame, all: Seq[String], key: Seq[String]): (Digest, Digest) = {
    val cs = aggs(all, "a") ++ aggs(key, "k")
    val r = df.agg(cs.head, cs.tail: _*).head()
    (digestAt(r, 0), digestAt(r, 3))
  }

  /** Planted-fact expectation for the synthetic chat turns: every turn
    * carries one "subject verb object." sentence, and under window=1 a
    * subject of turn t pairs with the objects of turns t and t+1. Read
    * from the text with a regex, independent of the engine's tokenizer
    * and tagger. Returns distinct (conv_id, key) rows.
    */
  def plantedChatKeys(turns: DataFrame, rel: String, subjClass: String,
      objClass: String, subjects: Seq[String], verbs: Seq[String],
      objects: Seq[String]): DataFrame = {
    // KgPipeline.tripleKey puts the lower class id first
    require(objClass <= subjClass, "keys are built object-class first")
    val re = s"(${subjects.mkString("|")}) (${verbs.mkString("|")}) (${objects.mkString("|")})\\."
    val facts = turns.select(col("conv_id"), col("turn_idx"),
      regexp_extract(col("text"), re, 1).as("subj"),
      regexp_extract(col("text"), re, 3).as("obj"))
      .where(length(col("subj")) > 0)
    val a = facts.as("a"); val b = facts.as("b")
    a.join(b, col("a.conv_id") === col("b.conv_id") &&
        (col("b.turn_idx") === col("a.turn_idx") ||
          col("b.turn_idx") === col("a.turn_idx") + 1))
      .select(col("a.conv_id").as("conv_id"),
        concat(lit(s"$rel|$objClass|"), lower(col("b.obj")),
          lit(s"|$subjClass|"), lower(col("a.subj"))).as("key"))
      .distinct()
  }
}
