package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared storage protocol for iterative operators (connected
  * components, PageRank, k-means, BPE, triangle counting): rounds are
  * `localCheckpoint(true)`-materialized and the superseded round's
  * blocks released as soon as the next one exists, so executor
  * storage stays flat in the iteration count. */
private[graft] object Storage {

  /** Release the RDD blocks behind a localCheckpoint'ed frame.
    * Non-blocking: the caller is already holding the successor. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
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
