package graft.ops

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Overlap the independent branches of a composed query (guide §2.6
  * "Overlap independent jobs").
  *
  * The composed ledger queries (graph / classifier / corpus / retrieval /
  * drift pipelines) fold several independent sub-analyses over one shared
  * input into a handful of 1-row aggregates and cross-join them. Branches
  * whose construction is fully lazy already overlap inside the final
  * action (the DAG scheduler submits every ready stage), but a branch that
  * runs its own driver-side loop — connected components' pointer jumping,
  * PageRank's per-sweep eager checkpoints, a fit that collects a
  * metadata-sized model — serializes the WHOLE pipeline on its internal
  * actions: round-16 stage profiles showed the composed rows spending most
  * of their wall in back-to-back sub-second stages from different branches
  * that never overlapped.
  *
  * `materialize` runs each branch thunk on its own thread and eagerly
  * materializes the branch result with `localCheckpoint(true)`, so
  * iterative branches interleave their stages on the same scheduler
  * (FIFO: later jobs back-fill the tail of earlier ones — exactly the
  * guide's pattern). Each branch's plan is UNCHANGED — the thunks are the
  * same single-branch DataFrames as before, the checkpoint only cuts
  * lineage after the branch's own final operator — so results are
  * bit-identical to the sequential composition; only the wall-clock
  * overlap changes. Branch results in a composed ledger are aggregate- or
  * candidate-sized by construction, so the eager checkpoint materializes
  * rows the cross-join was about to materialize anyway.
  *
  * Thread-safety: SparkSession supports concurrent actions; job groups
  * are thread-local, so each branch runs in its own. The first failure
  * cancels every branch's group (running tasks interrupted, later jobs
  * refused) and interrupts the branch threads before it is rethrown.
  */
object Branches {

  def materialize(branches: Seq[() => DataFrame]): Seq[DataFrame] = {
    if (branches.sizeIs <= 1) return branches.map(f => f().localCheckpoint(true))
    val sc = SparkSession.active.sparkContext
    val groups = branches.indices.map(i => s"graft-branch-${java.util.UUID.randomUUID()}-$i")
    val pool = Executors.newFixedThreadPool(branches.size)
    val done = new ExecutorCompletionService[DataFrame](pool)
    val results = branches.zip(groups).map { case (f, group) =>
      done.submit { () =>
        sc.setJobGroup(group, group, interruptOnCancel = true)
        f().localCheckpoint(true)
      }
    }
    try {
      branches.foreach(_ => done.take().get()) // completion order: fail fast
      results.map(_.get())
    } catch {
      case e: Throwable =>
        groups.foreach(sc.cancelJobGroupAndFutureJobs)
        pool.shutdownNow()
        throw (e match { case x: ExecutionException => x.getCause; case _ => e })
    } finally pool.shutdown()
  }
}
