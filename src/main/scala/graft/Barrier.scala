package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one lineage barrier in main, and the one owner of every frame main
  * materializes and hands out: every materialization of a shared
  * intermediate (an operator's multi-consumer frame, an iterative round, a
  * per-corpus artifact, a returned working set or pivot base, a session's
  * accumulated set) goes through `Barrier`, so one rule decides how it is
  * stored:
  *
  *  - with a SparkContext checkpoint dir configured (cluster operation)
  *    and `spark.graft.barrier` not forced to `local`, the barrier is a
  *    RELIABLE lazy `Dataset.checkpoint` — on executor loss the cluster FS
  *    re-serves the blocks, recomputing and failing nothing;
  *  - otherwise (the sandbox default) a lazy `localCheckpoint`.
  *
  * Neither leaves a CacheManager entry: the blocks are freed by the
  * ContextCleaner once the dataset is unreachable, so no caller has to
  * release a barriered frame (a `persist` would live until the application
  * ends). A cache a method uses only itself is not a barrier: that method
  * persists it and unpersists it in a `finally` (`SourceHygieneSpec`).
  *
  * Both branches evaluate the input once (BarrierSpec). A lazy reliable
  * `checkpoint` alone only marks the RDD, so its write job re-runs the
  * whole plan after the first action; checkpointing a local checkpoint
  * instead lets that write read the first action's blocks.
  *
  * `spark.graft.barrier=local` opts a cluster out (and lets tests restore
  * the default after exercising the reliable branch). Both branches are
  * spec-proven result-identical (PipelineSpec). Lazy in both cases: the
  * barrier's blocks are computed by the first action (the lmScore lesson),
  * and a caller that needs it built now runs one action on it. Building a
  * barrier over an exchange-free input (such as `runFused`'s mention sets)
  * starts no job; over an input with an exchange it does, as under AQE
  * `localCheckpoint(eager = false)` executes its input's physical plan, and
  * with it every query stage below the last one (BarrierSpec).
  * `SourceHygieneSpec` keeps raw checkpoint calls out of the rest of main.
  *
  * Each checkpoint's input stays reachable for as long as the checkpoint's
  * RDD is, which every plan and job that reads the barrier holds. The
  * first job to finish over a barrier checkpoints it and drops its lineage,
  * and with it the input plan's SQL-metric accumulators; a job still
  * computing the barrier would then report metrics the driver no longer
  * has, and they would be lost (BarrierSpec). The input plan also holds its
  * broadcasts, which are freed with the barrier.
  */
object Barrier {
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val local = keep(ds, ds.localCheckpoint(eager = false))
    if (spark.sparkContext.getCheckpointDir.isDefined
        && spark.conf.get("spark.graft.barrier", "auto") != "local")
      keep(local, local.checkpoint(eager = false))
    else local
  }

  /** Checkpoint RDD -> the dataset it checkpoints; weak in the key only. */
  private val inputs = java.util.Collections.synchronizedMap(new java.util.WeakHashMap[RDD[_], Dataset[_]]())

  private def keep[T](in: Dataset[T], out: Dataset[T]): Dataset[T] = {
    out.queryExecution.logical.foreach {
      case r: LogicalRDD => inputs.put(r.rdd, in)
      case _ =>
    }
    out
  }
}
