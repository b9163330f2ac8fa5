package graft.operators

import org.apache.spark.sql.DataFrame

/** Storage policy shared by the operators and queries: who releases a
  * `localCheckpoint`, and when.
  *
  * Ownership contract. A checkpoint has exactly one owner at a time,
  * and only the owner releases it:
  *  - [[releasing]] owns a pin for one use (pin, use, release), and
  *    releases it whether the use returns or throws;
  *  - [[rounds]] owns the live round of an iterative operator: each
  *    round is checkpointed and materialized, and the round it
  *    supersedes released as soon as it exists, so executor storage
  *    stays flat in the iteration count;
  *  - a frame returned to a caller is the caller's, and what an
  *    operator returns is materialized (or reads only a checkpoint the
  *    caller now owns), so it never reads a released block.
  * A release unpersists every `LogicalRDD` in the frame's analyzed
  * plan, so no scope may be handed a lazy frame over a checkpoint that
  * someone else still owns. */
private[graft] object Storage {

  /** Release the RDD blocks behind a localCheckpoint'ed frame.
    * Non-blocking: the caller is already holding the successor. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `df` checkpointed and materialized by the one job
    * `localCheckpoint(eager = true)` runs, with one difference: eager
    * mode registers its RDD before that job and hands back no frame
    * when the job fails, so nobody could release it. Here the
    * checkpoint is taken lazily, its RDD counted through the frame's
    * `LogicalRDD`, and released if the count throws. */
  private def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    try {
      cp.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.count()
        case _ => ()
      }
      cp
    } catch {
      case e: Throwable =>
        unpersistLocalCheckpoint(cp)
        throw e
    }
  }

  /** Run `use` on `pin`, then release `pin`'s checkpoint, whether
    * `use` returns or throws. What `use` returns must not read `pin`:
    * materialize it inside the scope, or serve it from elsewhere. */
  def releasing[A](pin: DataFrame)(use: DataFrame => A): A =
    try use(pin) finally unpersistLocalCheckpoint(pin)

  /** Up to `maxRounds` rounds of `step` from `init`, stopping after
    * the first round `done` accepts. Each round is checkpointed and
    * materialized ([[checkpoint]]), the round it supersedes is
    * released as soon as it exists, and `done` probes the checkpointed
    * round. A throw in `step`, in a round's own checkpoint job or in
    * `done` releases the live round. Returns the last round, which the
    * caller owns (`init` itself when no round ran).
    *
    * `init` is handed over by default: the caller's own checkpoint,
    * released like any superseded round. With `ownsInit = false` it is
    * borrowed (a lazy frame over caches or checkpoints the caller still
    * reads, which a release would reach) and never released. */
  def rounds(
      init: DataFrame, maxRounds: Int, ownsInit: Boolean = true,
      done: DataFrame => Boolean = _ => false)(
      step: DataFrame => DataFrame): DataFrame = {
    var live = init
    var owned = ownsInit
    var finished = false
    try {
      var n = 0
      var stop = false
      while (!stop && n < maxRounds) {
        val next = checkpoint(step(live))
        if (owned) unpersistLocalCheckpoint(live)
        live = next
        owned = true
        n += 1
        stop = done(live)
      }
      finished = true
      live
    } finally if (!finished && owned) unpersistLocalCheckpoint(live)
  }

  /** Run MUTUALLY INDEPENDENT driver-side actions (each typically one
    * Spark job — e.g. the marker-guarded, idempotent delta-epoch
    * appends of disjoint index stores) concurrently from a
    * short-lived driver thread pool, so the next job's tasks
    * back-fill executors the previous job's tail leaves idle (guide
    * §2.6). Waits for ALL actions to settle, then rethrows the FIRST
    * failure's own exception (unwrapped) — a failed action surfaces
    * exactly as it would sequentially, and an idempotent replay
    * completes whichever actions are missing. Callers own the
    * independence proof: nothing here orders the actions relative to
    * each other. */
  def runConcurrently(actions: Seq[() => Unit]): Unit =
    if (actions.isEmpty) ()
    else if (actions.size == 1) actions.head()
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size)
      try {
        val futs = actions.map(a => pool.submit(
          new java.util.concurrent.Callable[Unit] { def call(): Unit = a() }))
        var failure: Throwable = null
        futs.foreach { f =>
          // settle EVERY future before rethrowing: an interrupt or a
          // non-ExecutionException from get() must not abandon
          // in-flight appends mid-write (the documented "after all
          // have settled" contract)
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (failure == null) failure = e.getCause
            case e: Throwable =>
              if (failure == null) failure = e
          }
        }
        if (failure != null) throw failure
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      }
    }

  /** A fresh temp dir named `prefix*` for a throwaway index, deleted at
    * JVM exit: a DataFrame served from an index reads its dir lazily,
    * so the dir cannot go sooner, and one dir per call keeps concurrent
    * runs (verify and bench, two scale factors) off each other's
    * segments. */
  def tempIndexDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    TempIndexDirs.dirs.add(dir)
    dir.toAbsolutePath.toString
  }

  // the one registry of those dirs, and its one shutdown hook,
  // created on first use
  private object TempIndexDirs {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    sys.addShutdownHook {
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      dirs.asScala.filter(Files.exists(_)).foreach { dir =>
        scala.util.Using(Files.walk(dir)) { st =>
          st.iterator.asScala.toSeq
            .sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
        }
      }
    }
  }
}
