package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Corpus-level dataset operators from SURVEY §2.3/§2.8 that are plain
  * relational transformations in our engine (the reference mutates its
  * object tree in place for each).
  */
object DatasetOps {

  /** `Dataset.prune_empty_parts` (`data.py:377-387`): drop turns with no
    * gold mention — a left-semi join.
    */
  def pruneEmptyTurns(turns: DataFrame, mentions: DataFrame): DataFrame =
    turns.join(mentions.select("conv_id", "turn_idx").distinct(),
      Seq("conv_id", "turn_idx"), "left_semi")

  /** `Dataset.delete_subclass_annotations` (`data.py:431-450`): drop
    * mentions whose subclass is in the given set. String-compared after
    * cast (a numeric subclass 0 is "0", never conflated with a missing
    * one — the trap the reference's `labelize` warns about); mentions
    * without a subclass column or with a null subclass are always kept,
    * matching `ann.subclass not in subclasses` for subclass=None against
    * non-None sets.
    */
  def deleteSubclassAnnotations(mentions: DataFrame,
                                subclasses: Set[String]): DataFrame =
    if (!mentions.columns.contains("subclass") || subclasses.isEmpty) mentions
    else mentions.filter(col("subclass").isNull ||
      !col("subclass").cast("string").isin(subclasses.toSeq: _*))

  /** `Dataset.generate_top_stats_array` (`data.py:312-331`): the top-N
    * most frequent lowercased mention words of one class. The reference
    * prints a JSON dict; we return the ranked DataFrame
    * (word, count) — `orderBy.limit` IS the operator. `alphaOnly`
    * mirrors `lc_word.isalpha()`.
    */
  def topMentionWords(mentions: DataFrame, classId: String, topNr: Int = 10,
                      alphaOnly: Boolean = true): DataFrame = {
    val words = mentions.filter(col("class_id") === classId)
      .select(explode(split(col("text"), " ")).as("w"))
      .select(lower(col("w")).as("word"))
    (if (alphaOnly) words.filter(col("word").rlike("^\\p{L}+$")) else words)
      .groupBy("word").agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col("word"))
      .limit(topNr)
  }

  /** `Dataset.clean_subclasses` (`data.py:335-340`): reset every
    * subclass (the reference sets False; relationally that's null).
    */
  def cleanSubclasses(mentions: DataFrame): DataFrame =
    if (!mentions.columns.contains("subclass")) mentions
    else mentions.withColumn("subclass", lit(null).cast("string"))

  /** `Dataset.get_unique_mentions` (`data.py:755-763`): the distinct
    * gold mention surface strings.
    */
  def uniqueMentionTexts(mentions: DataFrame): DataFrame =
    mentions.select(col("text")).distinct()

  /** `Dataset.prune_sentences(p)` (`data.py:408-430`): keep sentences
    * containing a mention plus a seeded p-fraction of the rest
    * (training-time negative downsampling; the reference uses seedless
    * random.random — we fix the seed via rand(seed)).
    */
  def pruneSentences(sentences: DataFrame, mentions: DataFrame,
                     p: Double, seed: Long = 2727L): DataFrame = {
    val withMention = sentences.join(
      mentions.select("conv_id", "turn_idx", "sent_idx").distinct(),
      Seq("conv_id", "turn_idx", "sent_idx"), "left_semi")
    val without = sentences.join(
      mentions.select("conv_id", "turn_idx", "sent_idx").distinct(),
      Seq("conv_id", "turn_idx", "sent_idx"), "left_anti")
      .filter(rand(seed) < p)
    withMention.unionByName(without)
  }

  /** `Dataset.extend_dataset` (`data.py:366-374`): union by document
    * key, keep-first on collision (left wins).
    */
  def extendByKey(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.unionByName(b.join(a.select(key).distinct(), Seq(key), "left_anti"))

  /** `Dataset.label_edges` (`data.py:205-213`): edge target = +1 iff the
    * edge's canonical key appears among the gold triples of its
    * conversation, else −1 — a left-semi membership turned into a flag
    * via left join.
    */
  def labelEdges(edges: DataFrame, goldKeys: DataFrame): DataFrame = {
    val gold = goldKeys.select(col("conv_id"), col("key")).distinct()
      .withColumn("__gold", lit(1))
    edges.join(gold, Seq("conv_id", "key"), "left")
      .withColumn("target", when(col("__gold").isNotNull, 1).otherwise(-1))
      .drop("__gold")
  }

  /** `compute_stats_relations_distances` (`data.py:125-167`): histogram
    * of the minimum distance at which each unique relation key occurs.
    */
  def relationDistanceHistogram(triplesWithDist: DataFrame): DataFrame =
    triplesWithDist
      .groupBy("conv_id", "key").agg(min(col("dist")).as("min_dist"))
      .groupBy("min_dist").count()
      .orderBy("min_dist")

  /** `StatsWriter`-style corpus summary (`utils/writers.py:13-201`):
    * per-class mention statistics.
    */
  def mentionStats(mentions: DataFrame): DataFrame =
    mentions.groupBy("class_id").agg(
      count(lit(1)).as("n_mentions"),
      countDistinct(col("conv_id")).as("n_convs"),
      countDistinct(lower(col("text"))).as("n_surfaces"),
      avg(length(col("text"))).as("avg_len"))

  /** `stratified_split` (`data.py:604-648`): seeded per-stratum
    * percentage split so each stratum contributes proportionally.
    */
  def stratifiedSplit(keysWithStratum: Seq[(String, String)], p: Double,
                      seed: Long = 2727L): (Set[String], Set[String]) = {
    val byStratum = keysWithStratum.groupBy(_._2).toSeq.sortBy(_._1)
    val train = Set.newBuilder[String]
    val test = Set.newBuilder[String]
    byStratum.foreach { case (stratum, members) =>
      val (tr, te) = Splits.percentage(members.map(_._1),
        p, seed ^ graft.nlp.Hashes.fnv1a64(stratum))
      train ++= tr; test ++= te
    }
    (train.result(), test.result())
  }
}
