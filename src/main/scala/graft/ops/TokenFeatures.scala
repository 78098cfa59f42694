package graft.ops

import graft.model._
import graft.nlp.{Porter, TextOps}

/** Token feature generators (SURVEY §2.4, nalaf/features package): each adds
  * entries to an open per-token feature map, preserving the reference's
  * `NAME[offset]` naming convention (`FeatureDictionary`,
  * `data.py:1790-1814`: plain names get a `[0]` suffix). All are
  * sentence-local — computed inside one map over the nested token array,
  * no shuffle.
  */
object TokenFeatures {

  type FeatMap = Map[String, String]

  /** `SimpleFeatureGenerator` (`features/simple.py:6-19`). */
  def simple(sent: IndexedSeq[Tok]): IndexedSeq[FeatMap] =
    sent.map(t => Map("word[0]" -> t.word))

  /** `PorterStemFeatureGenerator` (`features/stemming.py:109-128`). */
  def porterStem(sent: IndexedSeq[Tok]): IndexedSeq[FeatMap] =
    sent.map(t => Map("stem[0]" -> Porter.stem(t.word)))

  /** `DictionaryFeatureGenerator` (`features/dictionaries.py:11-25`):
    * broadcast gazetteer membership, lowercased.
    */
  def dictionary(sent: IndexedSeq[Tok], name: String, words: Set[String]): IndexedSeq[FeatMap] =
    sent.map { t =>
      if (words.contains(t.word.toLowerCase)) Map(s"dics.$name[0]" -> "1")
      else Map.empty
    }

  /** Lemma via broadcast lexicon — `SpacyLemmatizer`/`BioLemmatizer`
    * (`features/stemming.py:13-102`): external-process lemmatizers
    * become a broadcast map lookup with stem fallback.
    */
  def lemma(sent: IndexedSeq[Tok], lexicon: Map[String, String]): IndexedSeq[FeatMap] =
    sent.map { t =>
      val w = t.word.toLowerCase
      Map("lemma[0]" -> lexicon.getOrElse(w, Porter.stem(w)))
    }

  /** `ConjunctionFeatureGenerator` (`features/conjunction.py:4-17`):
    * feature crossing f1|f2 = v1|v2.
    */
  def conjunction(feats: IndexedSeq[FeatMap], f1: String, f2: String): IndexedSeq[FeatMap] =
    feats.map { m =>
      (m.get(f1), m.get(f2)) match {
        case (Some(a), Some(b)) => Map(s"$f1|$f2" -> s"$a|$b")
        case _ => Map.empty
      }
    }

  /** `WindowFeatureGenerator` (`features/window.py:4-60`), exact
    * semantics: for every base feature `NAME[0]` (or only `includeList`
    * when given) copy each in-sentence neighbor k of `template` as
    * `NAME[k]`. Neighbor positions outside the sentence contribute
    * nothing; missing features are skipped.
    */
  def window(feats: IndexedSeq[FeatMap],
             template: Seq[Int] = Seq(-2, -1, 1, 2),
             includeList: Option[Set[String]] = None): IndexedSeq[FeatMap] = {
    val names: Set[String] = includeList.getOrElse(feats.flatMap(_.keys).toSet)
    feats.indices.map { i =>
      var out = feats(i)
      names.foreach { name =>
        val base = name.dropRight(3) // strip "[0]" like window.py:50
        template.foreach { k =>
          val j = i + k
          if (j >= 0 && j < feats.length) {
            feats(j).get(name).foreach { v => out += (s"$base[$k]" -> v) }
          }
        }
      }
      out
    }
  }

  private def merge(a: IndexedSeq[FeatMap], b: IndexedSeq[FeatMap]): IndexedSeq[FeatMap] =
    a.zip(b).map { case (x, y) => x ++ y }

  /** The reference's default NER prepare pipeline
    * (`dataset_pipelines.py:26-32`): Simple + PorterStem +
    * Window(-3..3 over stem[0]).
    */
  def defaultPipeline(sent: IndexedSeq[Tok]): IndexedSeq[FeatMap] = {
    val base = merge(simple(sent), porterStem(sent))
    window(base, template = (-3 to 3).filter(_ != 0),
      includeList = Some(Set("stem[0]")))
  }
}
