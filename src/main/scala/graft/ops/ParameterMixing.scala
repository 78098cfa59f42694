package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder}

/** Iterative parameter mixing (McDonald, Hall & Mann 2010 — the
  * distributed training of [[Crf.trainDistributed]] and
  * [[RelationScoring.trainDistributed]]). Each round broadcasts the
  * current model; every non-empty partition warm-starts local training
  * from it on its own rows, seeded `seed ^ (round << 20) ^ partitionId`;
  * the partition snapshots come back in partition order and are averaged
  * into the next round's model. Only nPartitions × |model| values move per
  * round: the rows never leave their partitions. An input without rows
  * leaves `init` unchanged. Each learner supplies its local step, its
  * snapshot type and its averaging.
  */
private[graft] object ParameterMixing {

  def train[T, M: ClassTag, S: Encoder](data: Dataset[T], init: M, rounds: Int,
                                        seed: Long)(
      local: (M, Vector[T], Long) => S)(average: Seq[S] => M): M = {
    var model = init
    var r = 0
    while (r < rounds) {
      val bc = data.sparkSession.sparkContext.broadcast(model)
      val round = r
      // collect() returns the partitions' results in partition order
      val parts = data.mapPartitions { it =>
        val rows = it.toVector
        if (rows.isEmpty) Iterator.empty
        else {
          val pid = TaskContext.getPartitionId()
          Iterator.single(local(bc.value, rows, seed ^ (round.toLong << 20) ^ pid.toLong))
        }
      }.collect()
      if (parts.nonEmpty) model = average(parts.toSeq)
      bc.destroy()
      r += 1
    }
    model
  }

  /** The mixing average of one weight vector: the element-wise sum of the
    * `n` snapshots' vectors in partition order, divided by `n`. A snapshot
    * without this vector (`vs` has fewer than `n`) counts as zeros.
    */
  def mean(vs: Seq[Seq[Double]], len: Int, n: Int): Array[Double] = {
    val acc = new Array[Double](len)
    vs.foreach(v => (0 until len).foreach(i => acc(i) += v(i)))
    acc.map(_ / n)
  }
}
