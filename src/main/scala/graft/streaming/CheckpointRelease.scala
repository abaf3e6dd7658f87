package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releases the storage of a superseded `localCheckpoint`'ed generation:
  * a streaming store's state, or a round of `Dedup.distributedCluster`.
  *
  * `Dataset.unpersist()` does NOT do this: in Spark 4.1.2 it only calls
  * `CacheManager.uncacheQuery`, and `localCheckpoint` persists the
  * UNDERLYING RDD directly — the checkpoint blocks are never registered
  * with the CacheManager, so the Dataset-level call is a no-op on them
  * and cleanup stays GC/ContextCleaner-driven (one dead full-state
  * generation per micro-batch until a collection happens to run). The
  * fix is to unpersist the checkpointed RDD itself: an eagerly
  * checkpointed Dataset's analyzed plan IS a [[LogicalRDD]] holding it.
  *
  * Dropping a generation is safe only once no consumer can still be
  * scanning it — a local checkpoint cannot recompute lost partitions by
  * design, so a release under a live scan is a hard job failure, not a
  * slowdown. The stores therefore retire generations through
  * [[Retired]], which delays the physical release by ONE batch: a
  * snapshot taken from `current`/`level` stays scannable through the
  * NEXT micro-batch's merge (the advertised mid-stream-estimate use;
  * the r14 review caught the immediate-release race). Consumers that
  * hold a snapshot across MORE than one subsequent batch must copy it
  * out (collect/write) — that boundary is the stores' documented
  * contract, and transient state is bounded at two generations.
  */
private[graft] object CheckpointRelease {

  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach { r => r.unpersist(blocking = false); () }

  /** Per-store delayed-release queue: `supersede(g)` releases the
    * generation retired one call EARLIER and parks `g`. Not
    * thread-safe on its own — every store calls it inside its
    * `synchronized` merge.
    */
  final class Retired extends Serializable {
    private var pending: Option[DataFrame] = None
    def supersede(df: DataFrame): Unit = {
      pending.foreach(release)
      pending = Some(df)
    }
  }
}
