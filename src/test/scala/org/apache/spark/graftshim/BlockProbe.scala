package org.apache.spark.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the driver's block manager, which Spark keeps
  * package-private: lets a spec check that a broadcast was freed. */
object BlockProbe {

  /** Ids of the broadcasts whose value block in the local block manager
    * holds exactly `value`. */
  def broadcastsHolding(value: AnyRef): Set[Long] = broadcastsWhere {
    case v: AnyRef => v eq value
    case _ => false
  }

  /** Ids of the broadcasts whose value block in the local block manager
    * holds an instance of `cls`. */
  def broadcastsOf(cls: Class[_]): Set[Long] = broadcastsWhere(cls.isInstance)

  private def broadcastsWhere(holds: Any => Boolean): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect {
      case b @ BroadcastBlockId(id, _) if bm.getLocalValues(b).exists(_.data.toList.exists(holds)) => id
    }.toSet
  }
}
