package graft.operators

import org.apache.spark.sql.DataFrame

/** The one owner of materialized intermediate state: every pin
  * (`localCheckpoint`) and every cache (`persist`) the engine takes
  * goes through here, and nothing else in `src/main` calls either.
  *
  * Materialization. [[pin]] and [[cache]] each run ONE job that
  * fills the frame and counts its rows, hand that count back (callers
  * never re-count what was just materialized), and release what they
  * registered if that job throws.
  *
  * Ownership contract. A pin or cache has exactly one owner at a
  * time, and only the owner releases it:
  *  - [[pinning]], [[releasing]] and [[caching]] own one for one use
  *    (materialize, use, release), and release it whether the use
  *    returns or throws;
  *  - [[rounds]] owns the live round of an iterative operator: each
  *    round is pinned, and the round it supersedes released as soon
  *    as it exists, so executor storage stays flat in the iteration
  *    count;
  *  - a frame returned to a caller is the caller's, and what an
  *    operator returns is materialized (or reads only a pin the
  *    caller now owns), so it never reads a released block.
  * A pin's release unpersists every `LogicalRDD` in the frame's
  * analyzed plan, so no scope may be handed a lazy frame over a pin
  * that someone else still owns.
  *
  * Pin or cache. A pin truncates lineage, so growing round state and
  * results are pinned. Under AQE a pin's `LogicalRDD` reports unknown
  * partitioning, while an `InMemoryRelation` keeps its child plan's
  * layout: a FIXED relation read repeatedly on one key (an edge list)
  * is cached instead. */
private[graft] object Storage {

  /** Release the RDD blocks behind a pinned frame.
    * Non-blocking: the caller is already holding the successor. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `df` checkpointed and materialized by one job, and the rows that
    * job counted. `localCheckpoint(eager = true)` would register its
    * RDD before its job and hand back no frame when the job fails, so
    * nobody could release it; here the checkpoint is taken lazily, its
    * RDD counted through the frame's `LogicalRDD`, and released if
    * the count throws. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = false)
    try {
      val rows = cp.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => rowsOf(lr.rdd)(_ => 1L)
      }.sum
      (cp, rows)
    } catch {
      case e: Throwable =>
        unpersistLocalCheckpoint(cp)
        throw e
    }
  }

  /** Σ `rows` over `rdd`'s elements, in the one job that materializes
    * it; no job at all for an RDD without partitions (an AQE-pruned
    * empty relation), where Spark would still post a task-less one. */
  private def rowsOf[A](rdd: org.apache.spark.rdd.RDD[A])(rows: A => Long): Long =
    if (rdd.partitions.isEmpty) 0L else rdd.map(rows).fold(0L)(_ + _)

  /** [[pinCounted]]'s frame; chains as `df.transform(Storage.pin)`. */
  def pin(df: DataFrame): DataFrame = pinCounted(df)._1

  /** Run `use` on `df` pinned ([[pin]]), then release the pin, whether
    * `use` returns or throws. */
  def pinning[A](df: DataFrame)(use: DataFrame => A): A = releasing(pin(df))(use)

  /** Run `use` on `pin`, then release `pin`'s checkpoint, whether
    * `use` returns or throws. What `use` returns must not read `pin`:
    * materialize it inside the scope, or serve it from elsewhere. */
  def releasing[A](pin: DataFrame)(use: DataFrame => A): A =
    try use(pin) finally unpersistLocalCheckpoint(pin)

  /** `df` cached (`MEMORY_AND_DISK`) and filled by one job, and the
    * rows that job counted. The job counts the cache's own batches
    * (the RDD an AQE plan would otherwise fill as a table-cache stage
    * of its first reader), so later readers find the relation
    * materialized; if it throws, the cache is dropped. Release with
    * [[uncache]]; the frame keeps the child plan's partitioning. */
  def cacheCounted(df: DataFrame): (DataFrame, Long) = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val buffers = cached.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
        .lookupCachedData(cached.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .get.cachedRepresentation.cacheBuilder.cachedColumnBuffers
      (cached, rowsOf(buffers)(_.numRows.toLong))
    } catch {
      case e: Throwable =>
        uncache(cached)
        throw e
    }
  }

  /** [[cacheCounted]]'s frame. */
  def cache(df: DataFrame): DataFrame = cacheCounted(df)._1

  /** Drop a cache [[cache]] took. Non-blocking, and a no-op on a frame
    * that is no longer cached. */
  def uncache(df: DataFrame): Unit = df.unpersist(blocking = false)

  /** Run `use` on `df` cached ([[cache]]), then drop the cache,
    * whether `use` returns or throws. What `use` returns must not read
    * the cache: materialize it inside the scope. */
  def caching[A](df: DataFrame)(use: DataFrame => A): A = {
    val cached = cache(df)
    try use(cached) finally uncache(cached)
  }

  /** Up to `maxRounds` rounds of `step` from `init`, stopping after
    * the first round `done` accepts. Each round is pinned ([[pin]]),
    * the round it supersedes is released as soon as it exists, and
    * `done` probes the pinned round. A throw in `step`, in a round's
    * own checkpoint job or in `done` releases the live round. Returns
    * the last round, which the caller owns (`init` itself when no
    * round ran).
    *
    * `init` is handed over by default: the caller's own pin, released
    * like any superseded round. With `ownsInit = false` it is
    * borrowed (a lazy frame over caches or pins the caller still
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
        val next = pin(step(live))
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
