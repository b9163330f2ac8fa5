package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.{SegmentedIndex, Storage}

/** The durable-index lifecycle the persisted-index queries share, in
  * its fixed order: a fresh index dir ([[Storage.tempIndexDir]]), the
  * tier's base write, the delta epochs, then optional maintenance
  * (compact + gc). A query keeps what is its own: the tier, its data,
  * its pins and the serve or probe it returns.
  *
  * Epochs: the i-th input commits as epoch i through
  * [[SegmentedIndex.appendEpoch]], from a driver pool
  * ([[Storage.runConcurrently]]; a lone epoch runs inline), so the
  * second append's job back-fills the first's task tail. Each epoch is
  * marker-guarded, idempotent, encoded against the state the base
  * write fixed, and writes its own disjoint `deltas/<epoch>` dir, so
  * concurrent appends commute: the index is byte-identical to appending
  * in order. Maintenance starts only after every epoch has committed. */
private[graft] object IndexScenario {

  /** The standard split's base: `key % 3 != 2`, two thirds of the rows. */
  def baseRows(rows: DataFrame, key: Column): DataFrame = rows.where(key % 3 =!= 2)

  /** The rest of the standard split as one epoch. */
  def lastThird(rows: DataFrame, key: Column): Seq[DataFrame] =
    Seq(rows.where(key % 3 === 2))

  /** The rest of the standard split as two epochs, even keys first. */
  def parityThirds(rows: DataFrame, key: Column): Seq[DataFrame] = Seq(
    rows.where(key % 3 === 2 && key % 2 === 0),
    rows.where(key % 3 === 2 && key % 2 =!= 0))

  /** Build one index in a fresh dir and return its path: `writeBase`
    * (the tier's own base write, whose signature differs per tier),
    * then `epochs`, then, with `compact`, a compact and a
    * `gc(retainGens)`. */
  def build(spark: SparkSession, index: SegmentedIndex, prefix: String,
      epochs: Seq[DataFrame] = Nil, compact: Boolean = false,
      retainGens: Int = 0)(writeBase: String => Unit): String = {
    val path = Storage.tempIndexDir(prefix)
    writeBase(path)
    Storage.runConcurrently(epochs.zipWithIndex.map { case (input, i) =>
      () => { index.appendEpoch(spark, path, i.toLong, input); () }
    })
    if (compact) {
      index.compact(spark, path)
      index.gc(spark, path, retainGens)
    }
    path
  }
}
