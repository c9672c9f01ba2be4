package graft.spark

import scala.collection.mutable

import org.apache.spark.util.AccumulatorV2

/** Manifest-scale results folded inside tasks and published to the driver:
  * one value per key (a partition id), folded in place by the task that
  * owns the key (each task deserializes its own copy of the accumulator).
  * The driver merges task reports so that the LAST report per key wins —
  * a retried or speculative task re-reports its partition and replaces
  * the earlier report instead of adding to it. Register with
  * `SparkContext.register` before the job and read [[value]] after it. */
final class PartitionReports[V <: Serializable] extends AccumulatorV2[(Int, V), Map[Int, V]] {
  private val reports = mutable.HashMap.empty[Int, V]

  /** The value folded for `key` in this task, created by `zero` on first use. */
  def fold(key: Int, zero: => V): V = reports.getOrElseUpdate(key, zero)

  override def isZero: Boolean = reports.isEmpty
  override def copy(): PartitionReports[V] = {
    val c = new PartitionReports[V]
    c.reports ++= reports
    c
  }
  override def reset(): Unit = reports.clear()
  override def add(kv: (Int, V)): Unit = reports(kv._1) = kv._2
  override def merge(other: AccumulatorV2[(Int, V), Map[Int, V]]): Unit =
    reports ++= other.value
  override def value: Map[Int, V] = reports.toMap
}
