package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.shuffle.FetchFailedException

/** Gate-only access to the `private[spark]` FetchFailedException
  * constructor, so graft.Chaos can report a lost shuffle fetch the
  * way a real executor does.
  *
  * Why it must be the real exception: the Executor special-cases
  * FetchFailedException (its constructor registers itself on the
  * running TaskContext), and the DAGScheduler's FetchFailed handling
  * is the code path under test — unregister the map output, resubmit
  * the map stage, recompute partials, let zombie attempts race the
  * reattempt. A plain RuntimeException only exercises task-level
  * retry. This is a measurement shim for graft.RetryGate, not a
  * production dependency.
  */
object ChaosShim {

  /** Throw a FetchFailedException naming this JVM's block manager as
    * the lost location. `shuffleId` must be registered with the
    * running job (graft.Chaos.lastShuffleId guarantees it): the
    * DAGScheduler resolves it via `shuffleIdToMapStage(shuffleId)`
    * and an unknown id would kill the event loop, not the task.
    */
  def throwFetchFailed(shuffleId: Int, reduceId: Int, msg: String): Nothing =
    throw new FetchFailedException(
      SparkEnv.get.blockManager.blockManagerId,
      shuffleId, 0L, 0, reduceId, msg)

  /** Delete every shuffle data/index file this JVM's disk block
    * manager holds — the executor-JVM injection path: constructing a
    * FetchFailedException needs a shuffle id the driver's scheduler
    * can resolve, and no executor-side source of one is
    * race-free (the worker tracker's status cache fills during
    * reader CONSTRUCTION, before task code runs, and mixes ids from
    * completed jobs whose scheduler registrations may be cleaned —
    * naming one kills the DAGScheduler event loop). Deleting the
    * files sidesteps id-picking entirely: sibling tasks hit the
    * genuinely missing blocks and the REAL read path raises the
    * FetchFailedException — local-block open failures are fetch
    * failures — with the true (shuffle, map, reduce) coordinates,
    * and the DAGScheduler unregisters the executor's outputs and
    * resubmits the map stage, which regenerates the files. Returns
    * the number of files deleted.
    */
  def deleteLocalShuffleData(): Int =
    SparkEnv.get.blockManager.diskBlockManager.getAllFiles().count { f =>
      val n = f.getName
      n.startsWith("shuffle_") &&
        (n.endsWith(".data") || n.endsWith(".index")) && f.delete()
    }
}
