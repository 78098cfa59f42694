package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.{GazetteerTagger, KgPipeline}
import Workloads._

/** The benchmark's own checks, on small inputs: seeded generation is
  * reproducible, and each output check rejects a corrupted output.
  * `--docs` names a generated documents directory with its DuckDB oracle
  * results under `<docs>/oracle`.
  */
object SelfTest {

  def run(o: Map[String, String]): Int = {
    val work = o("work")
    val spark = Main.session(2, work)
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    // one row fewer, and one key altered
    def dropOne(df: DataFrame): DataFrame = df.except(df.orderBy(df.columns.map(col): _*).limit(1))
    def alterOne(df: DataFrame, c: String): DataFrame = {
      val victim = df.orderBy(df.columns.map(col): _*).limit(1)
      dropOne(df).unionByName(victim.withColumn(c,
        org.apache.spark.sql.functions.concat(col(c), org.apache.spark.sql.functions.lit("x"))))
    }
    try {
      // chat generator: same seed, same input; other seed, other input
      val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
      Seq((7L, "a"), (7L, "b"), (8L, "c")).foreach { case (seed, tag) =>
        generateChat(spark, s"$work/chat_$tag", 40, seed)
      }
      val Seq(a, b, c) = Seq("a", "b", "c").map(t =>
        Checks.digest(spark.read.parquet(s"$work/chat_$t"), cols))
      check("chat input: same seed gives the same digest", a == b)
      check("chat input: another seed changes the digest", a != c)

      // chat check: planted facts vs the fused output
      val chat = spark.read.parquet(s"$work/chat_a")
      val planted = Checks.digest(Checks.plantedChatKeys(chat, ChatCfg.relType,
        ChatCfg.class1, ChatCfg.class2, Subjects, Verbs, Objects), ConvKey)
      val out = KgPipeline.triples(readTurns(spark, s"$work/chat_a"), ChatCfg, None,
        ChatGaz, allPositive).toDF().select(ConvKey.map(col): _*).cache()
      check("chat check accepts the engine's output", Checks.digest(out, ConvKey) == planted)
      check("chat check rejects a dropped triple", Checks.digest(dropOne(out), ConvKey) != planted)
      check("chat check rejects an altered key", Checks.digest(alterOne(out, "key"), ConvKey) != planted)

      // stream check: a key emitted twice
      val twice = out.unionByName(out.limit(1))
      check("stream check rejects a key emitted twice",
        Checks.digest(twice, ConvKey) != planted &&
          twice.distinct().count() != twice.count())

      // docs check: DuckDB oracle vs the fused kg_scored output
      val docs = o("docs")
      val oracle = spark.read.parquet(s"$docs/oracle/kg_scored.parquet")
      val want = Checks.digest(oracle, OutCols)
      val scored = KgPipeline.triples(docTurns(spark, docs), DocsCfg, None,
        GazetteerTagger.gazetteer, allPositive).toDF().select(OutCols.map(col): _*).cache()
      check("docs check accepts the engine's output", Checks.digest(scored, OutCols) == want)
      check("docs check rejects a dropped triple", Checks.digest(dropOne(scored), OutCols) != want)
      check("docs check rejects an altered subject", Checks.digest(alterOne(scored, "subj"), OutCols) != want)
      val triplesOracle = Checks.digest(spark.read.parquet(s"$docs/oracle/kg_triples.parquet"), OutCols)
      check("kg_triples oracle matches the declarative route",
        Checks.digest(graft.SparkEntry.queries("kg_triples")(spark, docs), OutCols) == triplesOracle)
    } finally Main.stop(spark)
    if (failures == 0) 0 else 1
  }
}
