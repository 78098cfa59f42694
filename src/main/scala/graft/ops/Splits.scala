package graft.ops

/** Cross-validation fold assignment and percentage splits —
  * `Dataset.cv_kfold_splits` / `percentage_split`
  * (`structures/data.py:453-648`).
  *
  * The reference sorts document keys, shuffles them with a seeded RNG
  * (seed 2727, `data.py:494-498`) and slices contiguous folds. We keep
  * the same shape — sorted keys + deterministic seeded Fisher-Yates +
  * contiguous slices — as a key→fold map. Exact parity with CPython's
  * Mersenne shuffle is out of scope (documented in SURVEY §7
  * hard-parts): we test fold sizes, disjointness and determinism
  * instead.
  */
object Splits {

  /** Deterministic Fisher-Yates over sorted keys. */
  def shuffledKeys(keys: Seq[String], seed: Long = 2727L): Vector[String] = {
    val arr = keys.sorted.toArray
    val rng = new scala.util.Random(seed)
    var i = arr.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr.toVector
  }

  /** k contiguous folds over the shuffled keys (`data.py:453-491`):
    * fold f = slice [f*len/k, (f+1)*len/k).
    */
  def kfold(keys: Seq[String], k: Int, seed: Long = 2727L): Map[String, Int] = {
    val shuffled = shuffledKeys(keys, seed)
    val n = shuffled.length
    shuffled.zipWithIndex.map { case (key, i) =>
      key -> math.min(i * k / math.max(n, 1), k - 1)
    }.toMap
  }

  /** Seeded percentage split (`data.py:578-601`): first
    * round(len*p) shuffled keys are the training set.
    */
  def percentage(keys: Seq[String], p: Double, seed: Long = 2727L): (Set[String], Set[String]) = {
    val shuffled = shuffledKeys(keys, seed)
    val cut = math.round(shuffled.length * p).toInt
    (shuffled.take(cut).toSet, shuffled.drop(cut).toSet)
  }
}
