package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable ENTITY-RESOLUTION screening index — the structured-record
  * sibling of [[ContentHashIndex]] on the same marker-last
  * [[LsmSegments]] protocol, and the fourth record schema through it
  * (hashes, MinHash bands, Hamming chunks, now ER records — the
  * protocol is payload-agnostic by construction). Segments store
  * `(id, name, block)`: the record key, the fuzzy-match field, and
  * the caller-computed blocking key ([[EntityResolution]]'s contract
  * — concatenate your blocking columns; the key bounds the
  * comparison fan-out).
  *
  * [[probeShard]] is the admission check a master-data ingest runs:
  * which arriving records fuzzily match something already registered?
  * o(index) per probe — the index scan is cut to the shard's blocks
  * by a broadcast semi-join BEFORE any pair expands, so probe cost
  * tracks the shard's block footprint, not the index. Within the
  * surviving blocks the comparison streams through one equi-join on
  * `block` (never a per-block collect), Levenshtein evaluated
  * per streamed pair — Σ |shard_b|·|index_b| work, the blocking
  * contract's own bound. */
object RecordIndex extends SegmentedIndex {

  protected def encode(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    val req = Seq("id", "name", "block")
    require(req.forall(df.columns.contains),
      s"RecordIndex: segment needs (id, name, block), got ${df.columns.mkString(", ")}")
    // canonical triple first; any FURTHER columns are the caller's
    // scored FIELDS and persist with the record — the multi-field
    // register [[probeShardMulti]] screens on. One schema per index
    // (readAll unions segments byName and fails loudly on drift).
    val extras = df.columns.filterNot(req.contains).toSeq
    df.select((req ++ extras).map(col): _*)
  }

  /** Persist `records(id, name, block)` as base gen 0. */
  def write(records: DataFrame, path: String): Unit =
    initBase(records.sparkSession, path)(encode(records.sparkSession, path, records))

  /** The fuzzy admission check: for each record of a new shard
    * `(id, name, block)`, every INDEXED record in the same block
    * whose name is within `maxDist` edits. Returns
    * (shard_id, indexed_id, name_dist).
    *
    * Same loud skew contract as
    * [[EntityResolution.blockedPairs]]: a (shard, index) block pair
    * that would stream more than `maxPairsPerBlock` comparisons
    * fails the probe with the block key in the message, BEFORE the
    * expansion runs — a partial match set is never served, and a
    * hot registered block (the data-skew case the blocking key must
    * own) surfaces as an error instead of a stuck task. */
  def probeShard(
      spark: SparkSession, path: String, shard: DataFrame,
      maxDist: Int, maxPairsPerBlock: Long = 100000000L): DataFrame = {
    // the shard feeds three plan branches (block count, block
    // semi-join keys, the final pair join) that share no work, and the
    // RESULT is eagerly materialized so a sink running more than one
    // action can never re-read segment files a concurrent compact/gc
    // retired mid-batch — the per-batch screening guarantee
    // StreamingOps.foreachBatch documents
    Storage.pinning(shard.select("id", "name", "block"))(
      probeShardOver(readAll(spark, path), _, maxDist, maxPairsPerBlock)
        .transform(Storage.pin))
  }

  /** [[probeShard]] against an explicit snapshot (the as-of serves
    * and the batch-parity spec share it). */
  private[graft] def probeShardOver(
      indexed: DataFrame, shard: DataFrame, maxDist: Int,
      maxPairsPerBlock: Long = 100000000L): DataFrame = {
    // per-block pair budget = |shard_b| · |index_b|, checked on every
    // index row BEFORE the join expands: the window's hash(block)
    // layout is the same exchange the join needs, and the shard-side
    // counts broadcast. The guard rides the name column (a dropped
    // flag column would be pruned away, and raise_error with it).
    val sn = broadcast(
      shard.groupBy("block").agg(count(lit(1)).cast("long").as("sn")))
    val cut = indexed
      .join(broadcast(shard.select("block").distinct()),
        Seq("block"), "left_semi")
      .withColumn("xn", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("block"))
        .cast("long"))
      .join(sn, Seq("block"))
      .select(col("block"), col("id").as("indexed_id"),
        when(col("xn") * col("sn") <= maxPairsPerBlock, col("name"))
          .otherwise(raise_error(concat(
            lit("probeShard: block "), col("block"), lit(" expands "),
            (col("xn") * col("sn")).cast("string"),
            lit(s" comparisons > maxPairsPerBlock=$maxPairsPerBlock — "
              + "refine the blocking key")))).as("indexed_name"))
    shard.select(col("block"), col("id").as("shard_id"),
        col("name").as("shard_name"))
      .join(cut, Seq("block"))
      // banded threshold Levenshtein (SPARK-40718): O(len·maxDist)
      // per comparison with early abort, −1 past the threshold —
      // identical distance values for every surviving row
      .select(col("shard_id"), col("indexed_id"),
        levenshtein(col("shard_name"), col("indexed_name"), maxDist)
          .cast("int").as("name_dist"))
      .where(col("name_dist") >= 0)
  }

  /** The MULTI-FIELD register screen — [[probeShard]] with
    * [[EntityResolution.blockedPairsMulti]]'s weighted-agreement
    * scorer pushed INTO the durable probe (no deferred rescore):
    * for each shard record, every indexed record in the same block
    * whose summed field-agreement score reaches `minScore`, as
    * (shard_id, indexed_id, score). The register must be written
    * with the scored field columns ([[write]]/[[appendEpoch]]
    * persist every column beyond the canonical (id, name, block)
    * triple) and the shard must carry the same columns.
    *
    * Same o(index) shape as [[probeShard]]: the segment scan is cut
    * to the shard's blocks by a broadcast semi-join before any pair
    * expands, the comparison streams through one equi-join on
    * `block` (Σ |shard_b|·|index_b| — the blocking contract's own
    * bound), and the same loud per-block budget rides the FIRST
    * scored field. Result eagerly pinned. */
  def probeShardMulti(
      spark: SparkSession, path: String, shard: DataFrame,
      fields: Seq[EntityResolution.FieldScore], minScore: Int,
      maxPairsPerBlock: Long = 100000000L): DataFrame = {
    require(fields.nonEmpty, "probeShardMulti: no fields to score")
    Storage.pinning(shard
        .select((Seq("id", "block") ++ fields.map(_.field)).map(col): _*))(
      probeShardMultiOver(readAll(spark, path), _, fields,
        minScore, maxPairsPerBlock).transform(Storage.pin))
  }

  /** [[probeShardMulti]] against an explicit snapshot. */
  private[graft] def probeShardMultiOver(
      indexed: DataFrame, shard: DataFrame,
      fields: Seq[EntityResolution.FieldScore], minScore: Int,
      maxPairsPerBlock: Long = 100000000L): DataFrame = {
    // CHEAP-FIRST SCORING, mirroring [[EntityResolution
    // .blockedPairsMulti]]: fuzzy (Levenshtein) fields are evaluated
    // only where the cheap score could still reach minScore —
    // output-identical (a pair failing the bound scores < minScore
    // and is filtered either way). The loud budget poison rides the
    // first EAGERLY-evaluated field: the first cheap field when the
    // fuzzy evaluation is guarded, else fields.head.
    // duplicate field names would silently drop one FieldScore from
    // the guarded projection (fields.filterNot(_.field == pf) below)
    // — fail loudly instead
    require(fields.map(_.field).distinct.size == fields.size,
      s"probeShardMulti: duplicate field names in " +
        s"${fields.map(_.field).mkString(", ")} — each scored column " +
        "may appear once")
    val fuzzyFields = fields.collect {
      case f: EntityResolution.FuzzyField => f }
    val cheapFields = fields.filterNot(
      _.isInstanceOf[EntityResolution.FuzzyField])
    val guardFuzzy = fuzzyFields.nonEmpty && cheapFields.nonEmpty
    val pf = if (guardFuzzy) cheapFields.head.field else fields.head.field
    val sn = broadcast(
      shard.groupBy("block").agg(count(lit(1)).cast("long").as("sn")))
    val cut = indexed
      .join(broadcast(shard.select("block").distinct()),
        Seq("block"), "left_semi")
      .withColumn("xn", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("block"))
        .cast("long"))
      .join(sn, Seq("block"))
      .select((Seq(col("block"), col("id").as("indexed_id"),
        when(col("xn") * col("sn") <= maxPairsPerBlock, col(pf))
          .otherwise(raise_error(concat(
            lit("probeShardMulti: block "), col("block"), lit(" expands "),
            (col("xn") * col("sn")).cast("string"),
            lit(s" comparisons > maxPairsPerBlock=$maxPairsPerBlock — "
              + "refine the blocking key")))).as(s"i_$pf")) ++
        fields.filterNot(_.field == pf)
          .map(f => col(f.field).as(s"i_${f.field}"))): _*)
    def fieldScore(fs: Seq[EntityResolution.FieldScore]) = fs
      .map(f => lit(f.weight) *
        f.agree(col(s"i_${f.field}"), col(s"s_${f.field}")))
      .reduceOption(_ + _).getOrElse(lit(0))
    val score =
      if (!guardFuzzy) fieldScore(fields)
      else {
        val cheapScore = fieldScore(cheapFields)
        val fuzzyTotal = fuzzyFields.map(_.weight).sum
        cheapScore + when(cheapScore + lit(fuzzyTotal) >= minScore,
          fieldScore(fuzzyFields)).otherwise(lit(0))
      }
    shard.select((col("block") +: col("id").as("shard_id") +:
        fields.map(f => col(f.field).as(s"s_${f.field}"))): _*)
      .join(cut, Seq("block"))
      .select(col("shard_id"), col("indexed_id"),
        score.cast("int").as("score"))
      .where(col("score") >= minScore)
  }
}
