package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** The lineage-truncation seam for the iterative operator family (BFS,
  * connected components / dedupClusters, label propagation, PageRank,
  * HITS, k-core): every per-round truncation in those loops routes
  * through [[Lineage.DatasetCheckpointOps.graftCheckpoint]] instead of
  * calling `localCheckpoint` directly.
  *
  * Default (knob unset): `localCheckpoint` — executor-local blocks, no
  * distributed-storage round trip, the right cost model for a healthy
  * cluster and for local runs. The documented trade (SCALE.md "Knobs"):
  * a LOST executor takes its blocks with it, and a locally-checkpointed
  * RDD's lineage is truncated, so the job FAILS rather than recomputes —
  * at 100 TB on 1000 executors, executor churn is routine, and a 40-round
  * connected-components run that dies at round 39 repays the whole loop.
  *
  * Opt-in (`spark.graft.checkpoint.dir` set on the session conf, runtime
  * settable): truncation becomes a reliable `Dataset.checkpoint` into
  * that directory (HDFS/object store on a real cluster). Blocks lost to
  * a dead executor are re-read from the checkpoint files — iteration
  * state survives executor loss at the cost of one distributed write per
  * round. LineageSpec proves the recovery path by dropping every cached
  * block mid-loop and completing the operator anyway.
  *
  * Durable-mode cost notes (the documented trade, not hidden):
  *  - RDD reliable checkpointing recomputes the checkpointed round's
  *    delta once more to write the files (Spark's standard
  *    persist-before-checkpoint caveat) — each round costs ~2× its
  *    default-mode compute plus the distributed write. Against a
  *    40-round loop lost to one dead executor, that is the cheap side of
  *    the trade.
  *  - [[GraftBridge.freeCheckpoint]] is a no-op on reliable checkpoints
  *    (nothing is block-cached); the files persist until the job cleans
  *    its checkpoint dir — bounded by the run's lifetime on a real
  *    cluster, and by the spec's temp dir here.
  *  - [[GraftBridge.isFlatRdd]] reports false for a reliably-checkpointed
  *    frame (storage level NONE), so operators that skip re-checkpointing
  *    a caller-materialized input re-checkpoint it in durable mode — one
  *    extra file copy, correctness unchanged.
  *
  * The knob is read per call, so one session can run durable for a
  * 10-hour graph job and default-local for everything else.
  */
object Lineage {
  /** Session-conf key: directory for reliable iterative checkpoints. */
  val CheckpointDirKey = "spark.graft.checkpoint.dir"

  private def reliableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty)

  // Guard on the LIVE context state, not a private shadow map: a shadow
  // recording "we applied the knob once" goes stale the moment user code
  // (or another library) calls sc.setCheckpointDir for its own RDD work —
  // every later "durable" graftCheckpoint would then silently land in the
  // foreign directory, voiding the durability the knob promises if that
  // dir is ephemeral. setCheckpointDir stores the fully-QUALIFIED URI of
  // the UUID subdir it mints ("file:/knob/<uuid>"), so the check compares
  // that subdir's PARENT against the knob dir qualified through the same
  // filesystem (a plain startsWith against "/knob" never matches). A
  // detected redirect re-applies the knob — a fresh UUID subdir, one
  // mkdirs RPC, durability restored.
  private def knobApplied(sc: org.apache.spark.SparkContext, dir: String): Boolean =
    sc.getCheckpointDir.exists { q =>
      val parent = new org.apache.hadoop.fs.Path(q).getParent
      parent != null && {
        val knob = new org.apache.hadoop.fs.Path(dir)
        val fs = knob.getFileSystem(sc.hadoopConfiguration)
        parent == fs.makeQualified(knob)
      }
    }

  implicit final class DatasetCheckpointOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `localCheckpoint(eager)` by default; reliable `checkpoint(eager)`
      * into [[CheckpointDirKey]] when the knob is set. Same eagerness
      * contract as the methods it fronts:
      * eager runs the truncation job now, lazy defers it to the first
      * action (the loops' convergence `count()` is that action).
      */
    def graftCheckpoint(eager: Boolean = true): Dataset[T] =
      reliableDir(ds.sparkSession) match {
        case None => ds.localCheckpoint(eager)
        case Some(dir) =>
          val sc = ds.sparkSession.sparkContext
          // one UUID dir per (context, knob value) in the steady state;
          // re-applied if anything redirected the context's checkpoint dir
          if (!knobApplied(sc, dir)) sc.setCheckpointDir(dir)
          ds.checkpoint(eager)
      }
  }
}
