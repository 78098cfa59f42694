package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction engine.
  *
  * The reference (Rostlab/nalaf) holds a mutable in-memory document tree
  * (`nalaf/structures/data.py:12-27`: Dataset → Document → Part → sentences
  * of Tokens, with side-car Entity/Relation/Edge lists). We normalize that
  * tree into flat, typed tables keyed by (conv_id, turn_idx, ...) so every
  * stage is a `Dataset[T] → Dataset[U]` transformation that Catalyst can
  * prune, push down and shuffle on explicit keys (SURVEY.md §1.2).
  */

/** One turn of a conversation transcript — the engine's unit of input.
  * Mirrors BASELINE.json input_hint:
  * (conv_id string, turn_idx int, role string, text string, tool string,
  *  ts timestamp). A nalaf Part (`data.py:874-929`) maps to a turn.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** A sentence within a turn's text (nalaf Part.sentences_,
  * `data.py:891-892`). `sent_start` is the char offset of the sentence in
  * the turn text; sentence text is always a substring of the turn text so
  * the per-turn byte-equality invariant can be re-checked at any stage.
  */
final case class SentenceRow(
    conv_id: String,
    turn_idx: Int,
    sent_idx: Int,
    sent_text: String,
    sent_start: Int
)

/** A token with char offsets into the *turn* text (nalaf Token,
  * `data.py:1698-1728`; offsets recovered by forward scan exactly like
  * `preprocessing/tokenizers.py:54-56`).
  */
final case class Tok(tid: Int, word: String, begin: Int, end: Int)

/** One sentence row carrying its tokens nested — sentence-local ops
  * (window features, Viterbi, dependency paths) stay narrow, no shuffle.
  */
final case class TokenizedSentence(
    conv_id: String,
    turn_idx: Int,
    sent_idx: Int,
    sent_start: Int,
    sent_text: String,
    tokens: Seq[Tok]
)

/** An entity mention (nalaf Entity, `data.py:1817-1898`). Offsets are
  * turn-text-relative, [begin, end). `norm` is the normalized-surface key
  * used by entity linking (lower + number-fold, mirroring
  * `features/util.py:9-22` masked_text + `relations/new/sentence.py:174-180`
  * entity2key).
  */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    sent_idx: Int,
    class_id: String,
    begin: Int,
    end: Int,
    text: String,
    confidence: Double,
    norm: String
)

/** A candidate relation edge between two mentions (nalaf Edge,
  * `data.py:1359-1434`): entities canonically sorted (m1 before m2 by
  * (turn_idx, begin), asserted sorted in the reference at
  * `data.py:1377-1379`).
  */
final case class EdgeRow(
    conv_id: String,
    rel_type: String,
    turn1: Int,
    turn2: Int,
    sent1: Int,
    sent2: Int,
    class1: String,
    text1: String,
    begin1: Int,
    class2: String,
    text2: String,
    begin2: Int,
    turn_dist: Int,
    sent_dist: Int
)

/** An emitted (subj, pred, obj) triple (nalaf Relation,
  * `data.py:1977-2076`). `key` is the canonical identity string built
  * exactly like `Relation.map` (`data.py:1997-2015`): entity strings are
  * `class_id|lower(text)`, ordered by entity class when bidirectional,
  * prefixed with the relation type and joined with '|'.
  */
final case class TripleRow(
    conv_id: String,
    turn_idx: Int,
    pred: String,
    subj: String,
    obj: String,
    key: String,
    score: Double
)
