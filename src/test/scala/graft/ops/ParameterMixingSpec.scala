package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, lit, pmod, size}
import graft.SparkSpec

/** The mixing rule of both distributed learners: one round equals the
  * partition-order mean of each non-empty partition's warm-started
  * `trainFrom` (seed `seed ^ partitionId` in round 0), and two calls on
  * one Dataset give the same bits.
  */
class ParameterMixingSpec extends SparkSpec {
  import spark.implicits._

  private def bits(xs: Iterable[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** Every partition's rows with its id, in partition order. */
  private def partitions[T](ds: Dataset[T]): Seq[(Int, Vector[T])] =
    ds.rdd.mapPartitions(it => Iterator.single((TaskContext.getPartitionId(), it.toVector)))
      .collect().toSeq

  /** The fixture partitioning leaves some partitions empty and several not;
    * returns the non-empty ones.
    */
  private def nonEmpty[T](ds: Dataset[T]): Seq[(Int, Vector[T])] = {
    val ps = partitions(ds)
    assert(ps.exists(_._2.isEmpty), ps.map(_._2.size))
    val full = ps.filter(_._2.nonEmpty)
    assert(full.size > 1, ps.map(_._2.size))
    full
  }

  private val trainRows: Dataset[RelationScoring.TrainRow] = {
    val rng = new scala.util.Random(11)
    (0 until 48).map { i =>
      val label = if (i % 3 == 0) 1 else -1
      val idx = (Array.fill(5)(rng.nextInt(64)) :+ (if (label > 0) 7 else 11))
        .distinct.sorted
      RelationScoring.TrainRow(idx, idx.map(_ => 0.5 + rng.nextDouble()), label)
    }.toDS().repartition(8, pmod(col("idx")(0), lit(6)))
  }

  private val sentences: Dataset[Crf.TaggedSentence] = {
    val rng = new scala.util.Random(5)
    val words = Vector("gene", "graph", "spark", "table", "green", "query", "glue")
    (0 until 36).map { _ =>
      val ws = Vector.fill(3 + rng.nextInt(4))(words(rng.nextInt(words.length)))
      Crf.TaggedSentence(ws.map(w => Seq("__bias__", s"w[0]=$w")),
        ws.map(w => if (w.startsWith("g")) "B-e" else "O"))
    }.toDS().repartition(8, pmod(size(col("labels")), lit(3)))
  }

  test("one linear mixing round is the partition-order mean of each partition's trainFrom") {
    val got = RelationScoring.trainDistributed(trainRows, rounds = 1, epochsPerRound = 2,
      seed = 99L)
    val zero = RelationScoring.LinearModel(new Array[Double](RelationScoring.Dims), 0.0)
    val locals = nonEmpty(trainRows).map { case (pid, rows) =>
      RelationScoring.trainFrom(zero,
        rows.map(r => (RelationScoring.Feats(r.idx, r.value), r.label)), 2, 1e-4, 99L ^ pid)
    }
    val n = locals.size
    val w = Array.tabulate(RelationScoring.Dims)(i => locals.foldLeft(0.0)(_ + _.w(i)) / n)
    assert(bits(got.w) == bits(w))
    assert(bits(Seq(got.b)) == bits(Seq(locals.foldLeft(0.0)(_ + _.b) / n)))
    assert(got.w.exists(_ != 0.0))
  }

  test("one CRF mixing round is the partition-order mean of each partition's trainFrom") {
    val got = Crf.trainDistributed(sentences, rounds = 1, epochsPerRound = 2, seed = 99L)
    val labels = Vector("B-e", "O")
    val L = labels.length
    val init = Crf.Model(labels, Map.empty, Array.ofDim[Double](L, L),
      new Array[Double](L), new Array[Double](L))
    val locals = nonEmpty(sentences).map { case (pid, rows) =>
      Crf.trainFrom(init, rows.map(s => (s.feats.map(_.toList).toIndexedSeq, s.labels)),
        2, 99L ^ pid)
    }
    val n = locals.size
    def mean(vs: Seq[Double]): Double = vs.foldLeft(0.0)(_ + _) / n
    assert(got.labels == labels)
    val keys = locals.flatMap(_.emissions.keySet).toSet
    assert(got.emissions.keySet == keys)
    keys.foreach { k =>
      assert(bits(got.emissions(k)) == bits(Seq.tabulate(L)(l =>
        mean(locals.map(_.emissions.get(k).fold(0.0)(_(l)))))), k)
    }
    assert(bits(got.transitions.flatten) == bits(Seq.tabulate(L, L)((a, b) =>
      mean(locals.map(_.transitions(a)(b)))).flatten))
    assert(bits(got.start) == bits(Seq.tabulate(L)(l => mean(locals.map(_.start(l))))))
    assert(bits(got.stop) == bits(Seq.tabulate(L)(l => mean(locals.map(_.stop(l))))))
    assert(got.emissions.values.exists(_.exists(_ != 0.0)))
  }

  test("two mixing runs on one Dataset give bit-identical models") {
    val a = RelationScoring.trainDistributed(trainRows)
    val b = RelationScoring.trainDistributed(trainRows)
    assert(bits(a.w) == bits(b.w) && bits(Seq(a.b)) == bits(Seq(b.b)))
    val c = Crf.trainDistributed(sentences)
    val d = Crf.trainDistributed(sentences)
    assert(c.emissions.keySet == d.emissions.keySet)
    c.emissions.foreach { case (k, w) => assert(bits(w) == bits(d.emissions(k)), k) }
    assert(bits(c.transitions.flatten) == bits(d.transitions.flatten))
    assert(bits(c.start ++ c.stop) == bits(d.start ++ d.stop))
  }
}
