package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Storage

/** The two ownership scopes of [[Storage]]: the release scope and the
  * round loop, on the paths that return and the paths that throw. */
class StorageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The persistent RDDs that are not in `before`: the registry holds
    * its RDDs weakly, so RDDs other suites left behind may go away
    * meanwhile, and only additions are compared. */
  private def added(before: Set[Int]): Set[Int] = persisted -- before

  /** The ids of the checkpointed RDDs a frame reads. */
  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def pin(n: Long): DataFrame = spark.range(n).toDF("x").localCheckpoint(true)

  /** One round: every value plus one. */
  private def inc(df: DataFrame): DataFrame = df.select(($"x" + 1).as("x"))

  test("releasing releases its pin when the use returns and when it throws") {
    val before = persisted
    val p = pin(5)
    assert(rddIds(p).subsetOf(persisted))
    val total = Storage.releasing(p)(_.agg(sum($"x")).as[Long].head())
    assert(total == 10L)
    assert(added(before).isEmpty)

    val q = pin(5)
    val e = intercept[IllegalStateException](
      Storage.releasing(q)(_ => throw new IllegalStateException("use failed")))
    assert(e.getMessage == "use failed")
    assert(added(before).isEmpty)
  }

  test("the round loop keeps exactly one live round and returns the last") {
    val before = persisted
    val live = Seq.newBuilder[Int]
    val out = Storage.rounds(pin(10), 4, done = { _ =>
      live += added(before).size
      false
    })(inc)
    assert(live.result() == Seq(1, 1, 1, 1))
    assert(added(before) == rddIds(out))
    assert(out.as[Long].collect().sorted.toSeq == (4L until 14L))
    Storage.unpersistLocalCheckpoint(out)
    assert(added(before).isEmpty)
  }

  test("the round loop stops after the first round done accepts") {
    val before = persisted
    var rounds = 0
    val out = Storage.rounds(pin(3), 10, done = { r =>
      rounds += 1
      r.agg(min($"x")).as[Long].head() >= 2
    })(inc)
    assert(rounds == 2)
    assert(out.as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))
    Storage.unpersistLocalCheckpoint(out)
    assert(added(before).isEmpty)
  }

  test("the round loop returns init itself when no round runs") {
    val init = pin(3)
    assert(Storage.rounds(init, 0)(inc) eq init)
    Storage.unpersistLocalCheckpoint(init)
  }

  test("the round loop releases the live round on a throw in step or done") {
    val before = persisted
    // a throw in step, on the driver, in round 3
    var n = 0
    intercept[IllegalStateException](Storage.rounds(pin(4), 5) { df =>
      n += 1
      if (n == 3) throw new IllegalStateException("step failed")
      inc(df)
    })
    assert(added(before).isEmpty)
    // a failing job inside round 2's own checkpoint: init, round 1 and
    // the failed round's checkpoint, which is registered before its
    // job runs, are all released
    val rounds = Set.newBuilder[Int]
    val e = intercept[Exception](Storage.rounds(pin(4), 5) { df =>
      rounds ++= rddIds(df)
      inc(df).select(when($"x" < 5, $"x")
        .otherwise(raise_error(lit("round failed"))).as("x"))
    })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("round failed")))
    assert(rounds.result().size == 2)
    assert((rounds.result() & persisted).isEmpty)
    assert(added(before).isEmpty)
    // a throw in done, in round 2
    intercept[IllegalArgumentException](Storage.rounds(pin(4), 5, done = { r =>
      require(r.agg(min($"x")).as[Long].head() < 2, "did not converge")
      false
    })(inc))
    assert(added(before).isEmpty)
  }

  test("the round loop leaves a borrowed init and the checkpoint it reads untouched") {
    // the caller's checkpoint, and a lazy init derived from it: a
    // release of the init would reach the caller's blocks
    val owned = pin(6)
    val ownedIds = rddIds(owned)
    val base = owned.select(($"x" * 2).as("x"))
    val out = Storage.rounds(base, 3, ownsInit = false)(inc)
    assert(ownedIds.subsetOf(persisted))
    assert(out.as[Long].collect().sorted.toSeq == Seq(3L, 5L, 7L, 9L, 11L, 13L))
    Storage.unpersistLocalCheckpoint(out)
    // ...and on the failure path, before the loop owns any round
    intercept[IllegalStateException](Storage.rounds(base, 3, ownsInit = false)(
      _ => throw new IllegalStateException("step failed")))
    assert(ownedIds.subsetOf(persisted))
    assert(owned.count() == 6)
    Storage.unpersistLocalCheckpoint(owned)
  }
}
