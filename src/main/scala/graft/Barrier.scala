package graft

import org.apache.spark.sql.Dataset

/** The one lineage barrier in main: every materialization of a shared
  * intermediate (an operator's multi-consumer frame, an iterative round,
  * a per-corpus artifact) goes through `Barrier`, so one rule decides how
  * it is stored:
  *
  *  - with a SparkContext checkpoint dir configured (cluster operation)
  *    and `spark.graft.barrier` not forced to `local`, the barrier is a
  *    RELIABLE lazy `Dataset.checkpoint` — on executor loss the cluster FS
  *    re-serves the blocks, recomputing and failing nothing;
  *  - otherwise (the sandbox default) a lazy `localCheckpoint` — blocks
  *    are freed by the ContextCleaner once the dataset is unreachable (no
  *    CacheManager entry to leak, unlike `persist`).
  *
  * `spark.graft.barrier=local` opts a cluster out (and lets tests restore
  * the default after exercising the reliable branch). Both branches are
  * spec-proven result-identical (PipelineSpec). Lazy in both cases: the
  * barrier materializes with the first action, so building a plan never
  * triggers jobs (the lmScore lesson); a caller that needs it built now
  * runs one action on it. `SourceHygieneSpec` keeps raw checkpoint calls
  * out of the rest of main.
  */
object Barrier {
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.sparkContext.getCheckpointDir.isDefined
        && spark.conf.get("spark.graft.barrier", "auto") != "local")
      ds.checkpoint(eager = false)
    else ds.localCheckpoint(eager = false)
  }
}
