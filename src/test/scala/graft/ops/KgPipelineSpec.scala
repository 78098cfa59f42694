package graft.ops

import graft.SparkSpec
import graft.model._

/** End-to-end pipeline contracts:
  *  - fused stub route == declarative query route (key sets identical),
  *  - trained linear scorer hits the BASELINE bar (P/R ≥ 0.95 vs gold)
  *    on seeded synthetic transcripts,
  *  - per-turn text byte-equality invariant.
  */
class KgPipelineSpec extends SparkSpec {

  private val SubjClass = "e_svc"
  private val ObjClass = "e_res"
  private val RelType = "r_uses"

  private val subjDict = Map(
    "svc_auth" -> SubjClass, "svc_billing" -> SubjClass,
    "svc_search" -> SubjClass, "job_etl" -> SubjClass,
    "agent_planner" -> SubjClass)
  private val objDict = Map(
    "db_users" -> ObjClass, "db_orders" -> ObjClass, "idx_docs" -> ObjClass,
    "topic_events" -> ObjClass, "cache_main" -> ObjClass)
  private val dict = subjDict ++ objDict

  private def dictTagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => dict.get(t.word).map(c => (c, t.begin, t.end)))

  test("fused stub pipeline matches declarative query route at sf0.001") {
    import spark.implicits._
    val turns = Segmentation.turns(Transcripts.fromDocuments(spark, "/root/testdata/sf0.001"))
    val fused = KgPipeline.triples(turns,
      KgPipeline.Config("r_op_obj", GazetteerTagger.OpClass, GazetteerTagger.ObjClass,
        window = 0, tokenizer = "tmvar"),
      crfModel = None, gaz = GazetteerTagger.gazetteer, scorer = None)
      .select("conv_id", "key").as[(String, String)].collect().toSet
    val declarative = graft.SparkEntry.queries("kg_triples")(spark, "/root/testdata/sf0.001")
      .select("conv_id", "key").as[(String, String)].collect().toSet
    assert(fused == declarative)
  }

  /** Gold triples of a synthetic conversation: the planted fact of each
    * turn (subject verb object sentence).
    */
  private def goldKeys(conv: Int, nTurns: Int): Set[(String, String)] = {
    (0 until nTurns).flatMap { t =>
      val turn = Transcripts.syntheticTurn(conv, t, seed = 42L)
      val words = turn.text.split("[ .]+")
      val s = words.find(subjDict.contains)
      val o = words.find(objDict.contains)
      for (sv <- s; ov <- o) yield {
        val m1 = Mention(turn.conv_id, t, 0, SubjClass, 0, 0, sv, 1.0, sv)
        val m2 = Mention(turn.conv_id, t, 0, ObjClass, 0, 0, ov, 1.0, ov)
        (turn.conv_id, KgPipeline.tripleKey(RelType, m1, m2))
      }
    }.toSet
  }

  test("trained relation scorer reaches P/R >= 0.95 vs gold (BASELINE metric)") {
    val cfg = KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1, tokenizer = "generic")

    // training data: conversations 0..59. label_edges semantics
    // (data.py:205-213) is part-level: an edge is positive iff the gold
    // relation exists in ITS part (= turn here), i.e. the same-sentence
    // planted fact — cross-turn surface coincidences are negatives.
    val train = (0 until 60).flatMap { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val gold = goldKeys(c, 5).map(_._2)
      KgPipeline.candidateEdges(f"conv_$c%06d", turns, cfg, dictTagger, withFeatures = true)
        .map(cand => (RelationScoring.hashFeats(cand.feats),
          if (cand.sameSentence && gold.contains(cand.key)) 1 else -1))
    }
    val model = RelationScoring.train(train, epochs = 8)

    // held-out conversations 200..279
    var tp = 0L; var fp = 0L; var fn = 0L
    (200 until 280).foreach { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val pred = KgPipeline.processConversation(f"conv_$c%06d", turns, cfg,
        dictTagger, Some(model)).map(_.key).toSet
      val gold = goldKeys(c, 5).map(_._2)
      tp += (pred & gold).size
      fp += (pred -- gold).size
      fn += (gold -- pred).size
    }
    val p = tp.toDouble / (tp + fp)
    val r = tp.toDouble / (tp + fn)
    assert(p >= 0.95, s"precision=$p (tp=$tp fp=$fp fn=$fn)")
    assert(r >= 0.95, s"recall=$r (tp=$tp fp=$fp fn=$fn)")
  }

  test("DISTRIBUTED parameter-mixing training reaches P/R >= 0.9 held-out") {
    import spark.implicits._
    val cfg = KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1, tokenizer = "generic")
    val train = (0 until 60).flatMap { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val gold = goldKeys(c, 5).map(_._2)
      KgPipeline.candidateEdges(f"conv_$c%06d", turns, cfg, dictTagger, withFeatures = true)
        .map { cand =>
          val f = RelationScoring.hashFeats(cand.feats)
          RelationScoring.TrainRow(f.idx, f.value,
            if (cand.sameSentence && gold.contains(cand.key)) 1 else -1)
        }
    }
    val model = RelationScoring.trainDistributed(
      train.toDS().repartition(4), rounds = 4, epochsPerRound = 4)
    var tp = 0L; var fp = 0L; var fn = 0L
    (200 until 260).foreach { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val pred = KgPipeline.processConversation(f"conv_$c%06d", turns, cfg,
        dictTagger, Some(model)).map(_.key).toSet
      val gold = goldKeys(c, 5).map(_._2)
      tp += (pred & gold).size
      fp += (pred -- gold).size
      fn += (gold -- pred).size
    }
    val p = tp.toDouble / (tp + fp)
    val r = tp.toDouble / (tp + fn)
    assert(p >= 0.9, s"precision=$p (tp=$tp fp=$fp fn=$fn)")
    assert(r >= 0.9, s"recall=$r (tp=$tp fp=$fp fn=$fn)")
  }

  test("processConversation with decided keys == full output minus their rows") {
    val model = ModelIO.loadLinear(spark, "src/test/resources/models/frozen_linear")
    val cfg = graft.FreezeModels.relationCfg
    val tagger = graft.FreezeModels.dictTagger
    val rng = new scala.util.Random(7)
    var negatives = 0
    (0 until 40).foreach { c =>
      val id = f"conv_$c%06d"
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      negatives += KgPipeline.candidateEdges(id, turns, cfg, tagger,
        withFeatures = false, scorer = Some(model)).count(_.score <= 0)
      val full = KgPipeline.processConversation(id, turns, cfg, tagger, Some(model))
      val keys = full.map(_.key).distinct
      (0 until 4).foreach { _ =>
        val decided = keys.filter(_ => rng.nextBoolean()).toSet
        assert(KgPipeline.processConversation(id, turns, cfg, tagger, Some(model), decided) ==
          full.filterNot(r => decided(r.key)), s"$id decided=$decided")
      }
      assert(KgPipeline.processConversation(id, turns, cfg, tagger, Some(model),
        keys.toSet).isEmpty)
    }
    // the model rejects some pairs, so open keys can need several pairs
    assert(negatives > 0)
  }

  test("fused pipeline pins its shuffle parallelism (AQE-coalesce regression guard)") {
    // the conv_id shuffle is byte-light but the downstream stage is
    // CPU-heavy: size-based AQE coalescing must NOT be able to fold it
    // to one task (measured 13s single-task vs 0.6s at 32 when this
    // regressed). User-specified repartition counts are exempt — assert
    // the plan carries one.
    val turns = Segmentation.turns(Transcripts.fromDocuments(spark, "/root/testdata/sf0.001"))
    val cfg = KgPipeline.Config("r", GazetteerTagger.OpClass, GazetteerTagger.ObjClass,
      window = 0, tokenizer = "tmvar")
    val ds = KgPipeline.triples(turns, cfg, None, GazetteerTagger.gazetteer, None)
    ds.count() // finalize the adaptive plan
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
  }

  test("kg_eval pushes gold-vocabulary prefilters onto both join inputs (plan guard)") {
    // the exact gold rule is an OR-of-ANDs across both sides (post-join
    // only); its weaker per-side projections must appear as IN filters
    // BELOW the turn-window join so sparse gold vocabularies shrink the
    // join input at scale
    val df = graft.SparkEntry.queries("kg_eval")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(" IN (merge,filter,scan,sort)"), plan.take(4000))
    assert(plan.contains(" IN (table,stream,batch,vector)"), plan.take(4000))
    graft.SparkEntry.clearCaches()
  }

  test("per-turn text survives segmentation byte-identically") {
    val turns = Segmentation.turns(Transcripts.fromDocuments(spark, "/root/testdata/sf0.001"))
    assert(Segmentation.invariantViolations(turns).count() == 0)
    // and every tokenized sentence carries an exact substring of its turn
    val bad = Segmentation.tokenized(turns).filter { s =>
      s.tokens.exists(t =>
        s.sent_text.substring(t.begin - s.sent_start, t.end - s.sent_start) != t.word)
    }
    assert(bad.count() == 0)
  }

  test("scoreEdge == w . hashFeats(features) for every candidate (dual-path guard)") {
    val cfg = KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1, tokenizer = "generic")
    val rng = new scala.util.Random(11)
    val w = Array.fill(RelationScoring.Dims)(rng.nextDouble() - 0.5)
    val model = RelationScoring.LinearModel(w, b = 0.123)
    (0 until 10).foreach { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val withFeats = KgPipeline.candidateEdges(f"conv_$c%06d", turns, cfg, dictTagger,
        withFeatures = true)
      val withScores = KgPipeline.candidateEdges(f"conv_$c%06d", turns, cfg, dictTagger,
        withFeatures = false, scorer = Some(model))
      assert(withFeats.length == withScores.length && withFeats.nonEmpty)
      withFeats.zip(withScores).foreach { case (f, s) =>
        val viaMap = model.score(RelationScoring.hashFeats(f.feats))
        assert(math.abs(viaMap - s.score) < 1e-9, s"$viaMap vs ${s.score} for ${f.key}")
      }
    }
  }

  /** SHA-256 prefix over (key, turn_idx, score bits) of every scored
    * candidate, in emission order.
    */
  private def scoreDigest(rows: Seq[KgPipeline.Candidate]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { c =>
      md.update(s"${c.key}\t${c.turn1}\t${java.lang.Double.doubleToLongBits(c.score)}\n"
        .getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  test("score bits are pinned: docs and chat shapes under a seeded random model") {
    val rng = new scala.util.Random(29)
    val w = Array.fill(RelationScoring.Dims)(rng.nextDouble() - 0.5)
    val model = RelationScoring.LinearModel(w, b = -0.25)
    // docs shape (the kg_scored config): long single sentences over the
    // documents vocabulary, about a quarter of the words gazetteer terms
    val vocab = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
      "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
      "query", "a", "scan", "batch")
    val docsCfg = KgPipeline.Config("r_op_obj", GazetteerTagger.OpClass,
      GazetteerTagger.ObjClass, window = 0, tokenizer = "tmvar")
    val gazTagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] = toks =>
      toks.flatMap(t => GazetteerTagger.gazetteer.get(t.word.toLowerCase)
        .map(cls => (cls, t.begin, t.end)))
    val textRng = new scala.util.Random(5)
    val docs = (0 until 12).flatMap { c =>
      val turns = (0 until 3).map { t =>
        val text = Seq.fill(10 + textRng.nextInt(90))(vocab(textRng.nextInt(vocab.length)))
          .mkString(" ")
        Turn(f"conv_$c%06d", t, "user", text, None, new java.sql.Timestamp(0L))
      }
      KgPipeline.candidateEdges(f"conv_$c%06d", turns, docsCfg, gazTagger,
        withFeatures = false, scorer = Some(model))
    }
    // chat shape with window = 1: cross-context pairs over combined parses
    val chatCfg = KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1,
      tokenizer = "generic")
    val chat = (0 until 30).flatMap { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      KgPipeline.candidateEdges(f"conv_$c%06d", turns, chatCfg, dictTagger,
        withFeatures = false, scorer = Some(model))
    }
    assert(chat.exists(!_.sameSentence))
    assert((docs.length, scoreDigest(docs)) == ((2013, "bc736b75150d3e2e")))
    assert((chat.length, scoreDigest(chat)) == ((270, "5dc5388612f43beb")))
  }

  test("multi-token, zero-width and part-token mentions: features and score bits are pinned") {
    import GazetteerTagger.{gazetteer, ObjClass => Obj, OpClass => Op}
    // a run of adjacent dictionary words is one mention of its first
    // word's class, and the run's last word is also a mention of its own
    // class, listed after the run (overlapping spans: the first one
    // listed classes the shared token); 'spark' adds a zero-width
    // mention and 'window' one over part of the token, so no token lies
    // fully inside either
    val tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] = toks => {
      val out = Vector.newBuilder[(String, Int, Int)]
      var i = 0
      while (i < toks.length) {
        gazetteer.get(toks(i).word) match {
          case None => i += 1
          case Some(cls) =>
            var j = i
            while (j + 1 < toks.length && gazetteer.contains(toks(j + 1).word)) j += 1
            out += ((cls, toks(i).begin, toks(j).end))
            if (j > i) out += ((gazetteer(toks(j).word), toks(j).begin, toks(j).end))
            i = j + 1
        }
      }
      toks.foreach { t =>
        if (t.word == "spark") out += ((Obj, t.begin, t.begin))
        if (t.word == "window") out += ((Op, t.begin + 2, t.end))
      }
      out.result()
    }
    val vocab = Vector("merge", "filter", "scan", "sort", "table", "vector", "stream",
      "batch", "spark", "window", "the", "a", "fast", "join", "not", "row", "calls")
    val textRng = new scala.util.Random(13)
    def sentence: String =
      Seq.fill(4 + textRng.nextInt(10))(vocab(textRng.nextInt(vocab.length))).mkString(" ")
    val convs = (0 until 8).map { c =>
      (0 until 3).map { t =>
        val text = Seq.fill(1 + textRng.nextInt(3))(sentence).mkString(". ") + "."
        Turn(f"conv_$c%06d", t, "user", text, None, new java.sql.Timestamp(0L))
      }
    }
    val cfg = KgPipeline.Config("r_op_obj", Op, Obj, window = 1, tokenizer = "generic")
    val rng = new scala.util.Random(31)
    val model = RelationScoring.LinearModel(
      Array.fill(RelationScoring.Dims)(rng.nextDouble() - 0.5), b = 0.5)
    val feats = convs.flatMap(ts => KgPipeline.candidateEdges(ts.head.conv_id, ts, cfg,
      tagger, withFeatures = true))
    val scored = convs.flatMap(ts => KgPipeline.candidateEdges(ts.head.conv_id, ts, cfg,
      tagger, withFeatures = false, scorer = Some(model)))
    assert(feats.exists(_.sameSentence) && feats.exists(!_.sameSentence))
    assert(feats.exists(c => c.m1.text.contains(' ')) && feats.exists(c => c.m2.text.contains(' ')))
    assert(feats.exists(_.m1.text == "ndow") && feats.exists(c => c.m2.begin == c.m2.end))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    feats.foreach { c =>
      md.update(s"${c.key}\t${c.turn1}\t${c.sameSentence}\n".getBytes("UTF-8"))
      c.feats.toSeq.sortBy(_._1).foreach { case (f, v) =>
        md.update(s"$f\t${java.lang.Double.doubleToLongBits(v)}\n".getBytes("UTF-8"))
      }
    }
    val featDigest = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
    assert((feats.length, featDigest) == ((695, "818a568dbd6dabef")))
    assert((scored.length, scoreDigest(scored)) == ((695, "0c07ed3a1341a551")))
  }

  test("tmvar fast path == cascade on mixed content") {
    val samples = Seq("plain lowercase words only", "Mixed Case c.2708_2711delTTAG",
      "digits 123abc", "naive caf text", "a, b; c!", "")
    samples.foreach { s =>
      // force the general path by prepending a char that disables the
      // fast path without changing the token stream after dropping it
      val viaCascade = graft.nlp.TextOps.tmvarTokenize("X " + s).drop(1)
      val direct = graft.nlp.TextOps.tmvarTokenize(s)
      assert(viaCascade == direct, s)
    }
  }

  test("fused pipeline with broadcast TRAINED CRF tagger == dictionary route") {
    import spark.implicits._
    val cfg = KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1, tokenizer = "generic")
    // train the CRF on gold BIO labels over synthetic convs 0..39
    val train = (0 until 40).flatMap { c =>
      (0 until 5).flatMap { t =>
        val turn = Transcripts.syntheticTurn(c, t, 42L)
        graft.nlp.TextOps.segment(turn.text, "generic").map { case (_, _, _, toks) =>
          val feats = Crf.tokenFeatures(toks).map(fs => "__bias__" :: fs)
          val labels: Seq[String] = toks.map { tk =>
            subjDict.get(tk.word).map("B-" + _)
              .orElse(objDict.get(tk.word).map("B-" + _)).getOrElse("O")
          }
          (feats, labels)
        }
      }
    }
    val crf = Crf.train(train, epochs = 5)
    // held-out conversations 300..329: CRF-tagged triples == dict-tagged
    val turns = (300 until 330).flatMap { c =>
      (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
    }.toDS()
    val viaCrf = KgPipeline.triples(turns, cfg, Some(crf), Map.empty, None)
      .select("conv_id", "key").as[(String, String)].collect().toSet
    val viaDict = KgPipeline.triples(turns, cfg, None, dict, None)
      .select("conv_id", "key").as[(String, String)].collect().toSet
    assert(viaCrf == viaDict)
    assert(viaCrf.nonEmpty)
  }

  test("scoreEdge on shared preps, pairs shuffled, == scoreEdge on a fresh prep per pair") {
    import GazetteerTagger.{gazetteer, ObjClass => Obj, OpClass => Op}
    import RelationScoring.{EdgeCtx, SentencePrep, Vocab}
    val terms = gazetteer ++ dict
    // runs of adjacent terms are one mention of the first term's class,
    // the run's last term also one of its own (overlapping spans); each
    // 'table' is tagged with both classes (one span, two classes),
    // 'spark' adds a zero-width mention and 'window' one over part of it
    val tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] = toks => {
      val out = Vector.newBuilder[(String, Int, Int)]
      var i = 0
      while (i < toks.length) {
        terms.get(toks(i).word) match {
          case None => i += 1
          case Some(cls) =>
            var j = i
            while (j + 1 < toks.length && terms.contains(toks(j + 1).word)) j += 1
            out += ((cls, toks(i).begin, toks(j).end))
            if (j > i) out += ((terms(toks(j).word), toks(j).begin, toks(j).end))
            i = j + 1
        }
      }
      toks.foreach { t =>
        if (t.word == "table") out += ((Op, t.begin, t.end))
        if (t.word == "spark") out += ((Obj, t.begin, t.begin))
        if (t.word == "window") out += ((Op, t.begin + 2, t.end))
      }
      out.result()
    }
    val vocab = Vector("merge", "filter", "scan", "table", "stream", "batch", "spark",
      "window", "the", "a", "not", "calls", "join", "fast", "row", "data", "key", "value")
    val textRng = new scala.util.Random(41)
    def words(n: Int) = Seq.fill(n)(vocab(textRng.nextInt(vocab.length))).mkString(" ")
    val docs = (0 until 3).map(c => (0 until 2).map { t =>
      Turn(f"conv_$c%06d", t, "user", words(10 + textRng.nextInt(40)), None,
        new java.sql.Timestamp(0L))
    })
    val chat = (0 until 6).map(c => (0 until 4).map { t =>
      val turn = Transcripts.syntheticTurn(c, t, 42L)
      turn.copy(text = turn.text + " " + words(2 + textRng.nextInt(6)) + ".")
    })
    val rng = new scala.util.Random(43)
    val model = RelationScoring.LinearModel(
      Array.fill(RelationScoring.Dims)(rng.nextDouble() - 0.5), b = -0.3)
    // (shared prep, fresh prep, m1, m2, same sentence, ctx)
    val pairs = Vector.newBuilder[(SentencePrep, () => SentencePrep, Mention, Mention,
      Boolean, EdgeCtx)]
    def ctx(ms: Seq[Mention]) = EdgeCtx(ms, rng.nextInt(4), rng.nextInt(4), rng.nextInt(3))
    for ((turns, tokenizer) <- docs.map((_, "tmvar")) ++ chat.map((_, "generic"))) {
      // the shared preps of a conversation share its words, as in the pipeline
      val vocab = new Vocab
      val sents = turns.flatMap { t =>
        graft.nlp.TextOps.segment(t.text, tokenizer).map { case (si, _, _, toks) =>
          (toks, tagger(toks).map { case (cls, b, e) =>
            Mentions.of(t.conv_id, t.turn_idx, si, cls, b, e, t.text, 0)
          })
        }
      }
      sents.foreach { case (toks, ms) =>
        val shared = SentencePrep.of(toks, vocab)
        // two mention lists on one prep: the classes of overlapped tokens differ
        val lists = Seq(ms, ms.reverse)
        for (a <- ms.indices; b <- ms.indices if a != b) {
          val sentMs = lists(rng.nextInt(2))
          pairs += ((shared, () => SentencePrep.of(toks), ms(a), ms(b), true, ctx(sentMs)))
        }
      }
      sents.zip(sents.drop(1)).foreach { case ((t1, ms1), (t2, ms2)) =>
        val h1 = SentencePrep.of(t1).heads; val h2 = SentencePrep.of(t2).heads
        def fresh(v: Vocab) = {
          val c = KgPipeline.combined(t1, t2, h1, h2)
          new SentencePrep(c.toks, c.heads, c.adj, c.depth, c.extraLabels, vocab = v)
        }
        val c = KgPipeline.combined(t1, t2, h1, h2)
        val shifted = ms2.map(m => m.copy(begin = m.begin + c.delta, end = m.end + c.delta))
        val shared = fresh(vocab)
        val sentMs = ms1 ++ shifted
        for (m1 <- ms1; m2 <- shifted) pairs += ((shared, () => fresh(new Vocab), m1, m2, false, ctx(sentMs)))
      }
    }
    val all = pairs.result()
    def bits(p: (SentencePrep, () => SentencePrep, Mention, Mention, Boolean, EdgeCtx),
        prep: SentencePrep) = java.lang.Double.doubleToLongBits(RelationScoring.scoreEdge(
      model, prep, p._3, p._4, p._5, if (p._5) 0 else 1, p._6))
    val viaShared = rng.shuffle(all.indices.toVector).map(i => i -> bits(all(i), all(i)._1)).toMap
    all.indices.foreach { i =>
      assert(viaShared(i) == bits(all(i), all(i)._2()), s"${all(i)._3} / ${all(i)._4}")
    }
    def span(m: Mention) = (m.turn_idx, m.begin, m.end)
    assert(all.exists(p => !p._5) && all.exists(p => p._3.begin == p._3.end))
    assert(all.exists(p => p._3.text.contains(' ')) && all.exists(p => p._3.text == "ndow"))
    assert(all.exists(p => p._5 && span(p._3) == span(p._4)))
    assert(all.exists(p => p._3.begin < p._4.end && p._4.begin < p._3.end &&
      span(p._3) != span(p._4)))
  }
}
