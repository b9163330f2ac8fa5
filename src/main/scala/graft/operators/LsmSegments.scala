package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StructType}

/** Marker-last LSM segment protocol shared, through
  * [[SegmentedIndex]], by the ten persisted index tiers and the two
  * admission decision logs ([[AdmittedLog]]): a generation-
  * numbered BASE segment plus epoch-numbered DELTA segments, where
  * every piece of data becomes visible only through a marker file
  * written AFTER the data it commits — so readers never observe a
  * torn write, replayed streaming epochs are detected and skipped,
  * and compaction swaps in a rewritten base atomically.
  *
  * Layout under an index `path`:
  *  - `base/<gen>/`   — base segment data, one dir per generation;
  *    like every artifact dir (deltas, trained state, durable-state
  *    relations) it holds `_schema.json`, the schema its writer
  *    recorded ([[writeArtifact]]), written after the data and before
  *    the marker, so the marker commits it too;
  *  - `gens/<gen>_<upto>` — empty generation marker, written LAST:
  *    the CURRENT base is the max `<gen>`, and `<upto>` is the
  *    highest delta epoch folded into it (−1 for a fresh index).
  *    Markers are never rewritten, so "which base + which deltas"
  *    is resolved by ONE atomic-enough operation (a directory list)
  *    — no read-modify-write pointer file, no rename races;
  *  - `deltas/<epoch>/` — delta segment data;
  *  - `epochs/<epoch>`  — empty delta commit marker, written LAST.
  *    Markers OUTLIVE their (compacted) data segments on purpose:
  *    they are the replay guard for streaming ingest whose epoch ids
  *    are monotone per checkpoint lineage.
  *
  * Consistency: a reader resolves (gen, upto) once, then reads
  * `base/<gen>` plus committed deltas with epoch > upto. Compaction
  * writes `base/<gen+1>` FIRST and its `gens/` marker second — a
  * reader interleaved between the two steps still resolves gen and
  * double-counts nothing (the new base is invisible until the marker
  * lands). Superseded generations and folded delta data are retired
  * only by an explicit [[gc]], so lazily-evaluated DataFrames handed
  * out before a compact keep reading their own consistent snapshot.
  *
  * Reads: a snapshot is ONE parquet scan of `base/<gen>` plus its
  * deltas under the carried schema ([[readArtifacts]]) — no schema-
  * inference job, and Spark's file packing sizes its partitions, so a
  * compaction writes about one file per core however many segments it
  * folds. The c_id-partitioned tiers scan each segment on its own
  * (multi-root partitioned reads conflict), still under the carried
  * schema, which declares `c_id` long.
  *
  * 100 TB shape: this is the metadata layer only — segment data
  * stays wherever the index writes it (c_id-partitioned parquet for
  * IVF, plain parquet codes for SQ8/PQ), markers are empty files, and
  * every operation here is O(#segments) driver-side metadata, never a
  * data scan.
  *
  * WRITER CONTRACT (single writer per index): READERS may be
  * arbitrarily concurrent with one writer — that is what marker-last
  * buys — but the protocol assumes at most ONE mutating party
  * ([[initBase]] / [[appendEpoch]] / [[compact]] / [[gc]]) per index
  * path at a time. A streaming ingest owns its index through its
  * checkpoint lineage; maintenance ([[compact]]+[[gc]]) either runs
  * inside that ingest loop or in a window when the ingest is stopped.
  * The marker files are the tripwire, not the lock: every marker is
  * created exclusively (create-if-absent), so if two writers DO race
  * — e.g. two streams with different checkpoint lineages pointed at
  * the same index — the loser fails loudly on the marker collision
  * instead of committing an interleaved mixed segment. */
private[graft] object LsmSegments {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listNames(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Create a marker file EXCLUSIVELY: markers are never rewritten,
    * so an existing file at a marker path means a second writer is
    * racing this one (or a caller broke the single-writer contract) —
    * fail loudly rather than let the loser commit a mixed segment. */
  private def touch(spark: SparkSession, file: String): Unit = {
    val f = fs(spark, file)
    val p = new org.apache.hadoop.fs.Path(file)
    f.mkdirs(p.getParent)
    try f.create(p, false).close()
    catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"LsmSegments: marker $file could not be created exclusively — " +
            "a concurrent writer committed it first. The single-writer-" +
            "per-index contract is broken (two streams with different " +
            "checkpoint lineages pointed at one index?); this writer's " +
            "segment data is uncommitted and invisible.", e)
    }
  }

  /** The schema sidecar inside every artifact dir. Parquet readers
    * skip `_`-prefixed files, so the data scan never sees it. */
  private val SchemaFile = "_schema.json"

  private def writeText(spark: SparkSession, file: String, text: String): Unit = {
    val out = fs(spark, file).create(new org.apache.hadoop.fs.Path(file), true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(spark: SparkSession, file: String): Option[String] = {
    val f = fs(spark, file)
    val p = new org.apache.hadoop.fs.Path(file)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Write `df` as the parquet artifact at `p` (overwrite — a replay
    * clobbers a torn attempt), partitioned by `partitionCols`, then the
    * schema a read of it reports — every field nullable, partition
    * columns last — as its sidecar `p/_schema.json`. Whatever marker
    * commits `p` lands after both. A partitioned write of an empty
    * frame lands no data file; its sidecar still carries the schema,
    * so it reads back as zero rows. */
  def writeArtifact(df: DataFrame, p: String, partitionCols: Seq[String] = Nil): Unit = {
    graft.sources.FileSources.writePartitionedParquet(df, p, partitionCols)
    val (parts, data) = df.schema.fields.toSeq.partition(f => partitionCols.contains(f.name))
    writeText(df.sparkSession, s"$p/$SchemaFile",
      Bridge.asNullable(StructType(data ++ parts)).json)
  }

  /** The one schema the artifacts at `paths` carry. A committed
    * artifact without a sidecar, or two artifacts whose sidecars
    * differ, fail naming the paths: there is no inference fallback. */
  private[graft] def carriedSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val schemas = paths.map { p =>
      val json = readText(spark, s"$p/$SchemaFile").getOrElse(
        throw new IllegalStateException(
          s"LsmSegments: artifact $p carries no $SchemaFile — it was " +
            "written without its schema (by a writer older than the " +
            "sidecar, or by hand); rewrite it through writeArtifact"))
      p -> DataType.fromJson(json).asInstanceOf[StructType]
    }
    val (first, schema) = schemas.head
    schemas.find(_._2 != schema).foreach { case (p, other) =>
      throw new IllegalStateException(
        s"LsmSegments: artifacts $first and $p carry different schemas " +
          s"(${schema.simpleString} vs ${other.simpleString}); one " +
          "snapshot reads every segment under one schema")
    }
    schema
  }

  /** THE artifact reader: every index segment, trained-state table and
    * durable-state relation is read here, under the schema its writer
    * recorded, so no read runs a schema-inference job. All `paths`
    * are ONE parquet scan, whose file packing sizes the partitions
    * (and so the files a compaction writes). `perPath` scans each
    * path on its own and unions them by name: a multi-root read of
    * partitioned dirs fails on Spark's conflicting-directory check,
    * so the c_id-partitioned tiers take that form. */
  def readArtifacts(
      spark: SparkSession, paths: Seq[String], perPath: Boolean = false): DataFrame = {
    val reader = spark.read.schema(carriedSchema(spark, paths))
    if (perPath) paths.map(reader.parquet(_)).reduce(_ unionByName _)
    else reader.parquet(paths: _*)
  }

  /** A tier's scalar parameters, written as `<path>/meta.json` (an
    * [[initBaseWith]] sibling, so the generation marker lands after
    * it) and read back on the driver through the Hadoop FS: no Spark
    * job either way. */
  def writeMeta(spark: SparkSession, path: String, meta: Map[String, Int]): Unit = {
    import scala.jdk.CollectionConverters._
    writeText(spark, s"$path/meta.json",
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(meta.asJava))
  }

  /** [[writeMeta]]'s parameters; a missing file fails naming it. */
  def readMeta(spark: SparkSession, path: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val file = s"$path/meta.json"
    val json = readText(spark, file).getOrElse(
      throw new IllegalStateException(s"LsmSegments: $file is missing"))
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .properties().asScala.map(e => e.getKey -> e.getValue.asInt).toMap
  }

  /** Committed delta epochs, ascending. */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] =
    listNames(spark, s"$path/epochs")
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted

  /** The exact `<gen>_<upto>` marker-name parse shared by
    * [[genMarkers]] (reads) and [[gc]] (deletes) — one definition so
    * "invisible to readers" and "untouchable by gc" are the same set
    * of names by construction. */
  private def parseGenMarker(n: String): Option[(Long, Long)] =
    n.split('_') match {
      case Array(g, u) if g.forall(_.isDigit) =>
        scala.util.Try((g.toLong, u.toLong)).toOption
      case _ => None
    }

  /** All committed (generation, maxFoldedEpoch) markers. */
  private def genMarkers(spark: SparkSession, path: String): Seq[(Long, Long)] =
    listNames(spark, s"$path/gens").flatMap(parseGenMarker)

  /** The current (generation, maxFoldedEpoch). Fails loudly on an
    * uninitialized index — serving from a half-written index must
    * never silently return empty results. */
  def current(spark: SparkSession, path: String): (Long, Long) = {
    val gens = genMarkers(spark, path)
    require(gens.nonEmpty,
      s"LsmSegments: no committed base generation under $path/gens — " +
        "the index was never initialized (or its init was torn before " +
        "the generation marker)")
    gens.maxBy(_._1)
  }

  /** Commit a generation marker — the LAST step of init/compact; test
    * seam for the compaction-race spec. */
  private[graft] def writeGenMarker(
      spark: SparkSession, path: String, gen: Long, upto: Long): Unit =
    touch(spark, s"$path/gens/${gen}_$upto")

  /** Initialize the base: `write(base/0)` then the gen marker. Fails
    * BEFORE writing anything if the index already holds a committed
    * generation — re-initializing a live index is always a second
    * writer (or a caller bug), and failing here keeps its data intact
    * instead of clobbering base/0 and then losing the marker race. */
  def initBase(spark: SparkSession, path: String)(write: String => Unit): Unit =
    initBaseWith(spark, path, Nil)(write)

  /** [[initBase]] plus sibling trained-state writes the base data
    * does NOT read (disjoint dirs — centroids/codebook/meta next to
    * the base segment): the siblings and the base-segment write run
    * as concurrent jobs (guide §2.6) and the generation marker is
    * written only after ALL of them settle, so the marker-last reader
    * protocol is unchanged — a reader that sees `gens/0` sees every
    * artifact the marker promises. Callers own the independence
    * proof, exactly as with [[Storage.runConcurrently]]. */
  def initBaseWith(spark: SparkSession, path: String,
      siblings: Seq[() => Unit])(write: String => Unit): Unit = {
    val existing = listNames(spark, s"$path/gens")
    require(existing.isEmpty,
      s"LsmSegments: index at $path is already initialized (generation " +
        s"markers ${existing.sorted.mkString(", ")}) — refusing to re-init " +
        "over a live index. Changing an index's parameters or corpus means " +
        "a NEW index path.")
    Storage.runConcurrently(siblings :+ ((() => write(s"$path/base/0")): () => Unit))
    writeGenMarker(spark, path, 0L, -1L)
  }

  /** Idempotently append one delta epoch: `write(deltas/<epoch>)`
    * (overwrite — replays clobber torn attempts), then the commit
    * marker. Returns false if the epoch was already committed (the
    * replay case — nothing is written). */
  def appendEpoch(spark: SparkSession, path: String, epoch: Long)(
      write: String => Unit): Boolean = {
    val f = fs(spark, path)
    val marker = new org.apache.hadoop.fs.Path(s"$path/epochs/$epoch")
    if (f.exists(marker)) false
    else {
      write(s"$path/deltas/$epoch")
      touch(spark, s"$path/epochs/$epoch")
      true
    }
  }

  /** Delete the delta data of every epoch below `epoch`, keeping the
    * markers as the replay guard: the retention rule of a store whose
    * newest committed delta is a full snapshot of its state (the
    * durable maintenance streams in [[graft.streaming.StreamingOps]]).
    * A writer operation, run between appends like [[gc]]. */
  def retireDeltasBelow(spark: SparkSession, path: String, epoch: Long): Unit = {
    val f = fs(spark, path)
    listNames(spark, s"$path/deltas")
      .filter(n => n.forall(_.isDigit) && n.toLong < epoch)
      .foreach(n => f.delete(new org.apache.hadoop.fs.Path(s"$path/deltas/$n"), true))
  }

  /** One consistent snapshot: the current base path plus the delta
    * paths of committed epochs newer than the base's fold point. A
    * committed-but-missing delta dir surfaces as a loud read failure
    * downstream ([[gc]] only ever deletes deltas ≤ upto). */
  def liveSegments(spark: SparkSession, path: String): (String, Seq[String]) = {
    val (gen, upto) = current(spark, path)
    val deltas = committedEpochs(spark, path).filter(_ > upto)
      .map(e => s"$path/deltas/$e")
    (s"$path/base/$gen", deltas)
  }

  /** TIME TRAVEL: the consistent snapshot AS OF delta epoch `epoch` —
    * the index exactly as a reader saw it right after that epoch's
    * commit. Resolution mirrors [[liveSegments]] over the RETAINED
    * marker set: the newest retained generation whose fold point is
    * ≤ `epoch`, plus the committed deltas in (foldPoint, epoch].
    * `epoch = -1` is the fresh-index snapshot (base generation only).
    *
    * The horizon is exactly what [[gc]]'s `retainGens` kept: every
    * retained generation's snapshot — and every as-of point BETWEEN
    * retained fold points — stays serveable, because gc retains all
    * delta data newer than the OLDEST retained generation's fold
    * point. An `epoch` older than that horizon fails LOUDLY (the
    * folded deltas are gone; silently serving the nearest newer
    * snapshot would misreport history). Asking for an epoch newer
    * than the last commit just serves the live snapshot — same as a
    * lakehouse `AS OF` with a future timestamp.
    *
    * 100 TB shape: identical to [[liveSegments]] — one driver-side
    * directory listing resolves (gen, deltas); no data is scanned
    * here, and the snapshot's segment reads prune exactly like the
    * live ones. */
  def segmentsAsOf(
      spark: SparkSession, path: String, epoch: Long): (String, Seq[String]) = {
    val gens = genMarkers(spark, path)
    require(gens.nonEmpty,
      s"LsmSegments: no committed base generation under $path/gens — " +
        "the index was never initialized (or its init was torn before " +
        "the generation marker)")
    val eligible = gens.filter(_._2 <= epoch)
    require(eligible.nonEmpty,
      s"LsmSegments: as-of epoch $epoch is older than the time-travel " +
        s"horizon — every retained generation of $path has folded past " +
        s"it (fold points: ${gens.map(_._2).sorted.mkString(", ")}). " +
        "Retain more history with gc(retainGens = n).")
    val (gen, upto) = eligible.maxBy(_._1)
    val deltas = committedEpochs(spark, path)
      .filter(e => e > upto && e <= epoch)
      .map(e => s"$path/deltas/$e")
    (s"$path/base/$gen", deltas)
  }

  /** Fold committed deltas into a NEW base generation: read the live
    * snapshot via `load`, `write` it to `base/<gen+1>`, then commit
    * the generation marker. The old generation and the folded delta
    * data remain on disk until [[gc]] — in-flight readers stay
    * consistent throughout. No-op when there is nothing to fold. */
  def compact(
      spark: SparkSession, path: String,
      load: Seq[String] => DataFrame,
      write: (DataFrame, String) => Unit): Unit = {
    val (gen, upto) = current(spark, path)
    val epochs = committedEpochs(spark, path).filter(_ > upto)
    if (epochs.nonEmpty) {
      val (basePath, deltaPaths) = liveSegments(spark, path)
      write(load(basePath +: deltaPaths), s"$path/base/${gen + 1}")
      writeGenMarker(spark, path, gen + 1, epochs.max)
    }
  }

  /** Retire everything the RETAINED generations supersede: older base
    * generations, fully-folded delta DATA (epoch ≤ the OLDEST retained
    * generation's fold point — the epoch markers stay forever as the
    * streaming replay guard), TORN delta directories (data written but
    * never committed by a marker — a crashed append whose epoch was
    * then never replayed; invisible to every reader by construction,
    * but leaked disk until reclaimed here), and superseded generation
    * markers.
    *
    * `retainGens = 0` (the default) keeps only the current generation
    * — call that form when no readers hold lazy plans over an older
    * snapshot. `retainGens = 1` keeps the previous generation (and
    * every committed delta its snapshot needs) alive too: the policy
    * an ONLINE maintenance loop uses, so any reader that resolved its
    * snapshot since the previous compaction keeps reading consistently
    * for one more full compaction cycle. Either way gc IS a writer
    * (the single-writer contract): an in-flight append's
    * not-yet-committed delta dir is indistinguishable from a torn one,
    * so gc runs between appends, never concurrent with one. */
  def gc(spark: SparkSession, path: String, retainGens: Int = 0): Unit = {
    val gens = genMarkers(spark, path).sortBy(-_._1)
    require(gens.nonEmpty,
      s"LsmSegments: no committed base generation under $path/gens — " +
        "nothing to gc on an uninitialized index")
    val kept = gens.take(retainGens + 1)
    val keptGens = kept.map(_._1).toSet
    // uptos are monotone in gen, so the oldest retained generation
    // bounds which folded deltas any retained snapshot still needs
    val minUpto = kept.map(_._2).min
    val f = fs(spark, path)
    listNames(spark, s"$path/base")
      .filter(n => n.forall(_.isDigit) && !keptGens.contains(n.toLong))
      .foreach(n => f.delete(new org.apache.hadoop.fs.Path(s"$path/base/$n"), true))
    val committed = committedEpochs(spark, path).toSet
    listNames(spark, s"$path/deltas")
      .filter(n => n.forall(_.isDigit) &&
        (n.toLong <= minUpto || !committed.contains(n.toLong)))
      .foreach(n => f.delete(new org.apache.hadoop.fs.Path(s"$path/deltas/$n"), true))
    // markers are deleted only when the FULL `<gen>_<upto>` name
    // parses (genMarkers' exact parse, reused) and the generation is
    // not retained; names genMarkers can't see (a stray _SUCCESS-style
    // file, `12_garbage`, a >Long digit run) are invisible to readers
    // and left alone here too — gc deletes only markers its own
    // writer could have produced, and never aborts mid-sweep on junk
    listNames(spark, s"$path/gens")
      .filter(n => parseGenMarker(n).exists { case (g, _) => !keptGens.contains(g) })
      .foreach(n => f.delete(new org.apache.hadoop.fs.Path(s"$path/gens/$n"), false))
  }
}

/** One durable index tier over the [[LsmSegments]] protocol: the parts
  * a tier owns — how an epoch of input becomes segment rows, and how a
  * segment is read and written — in one place, and the LSM operations
  * every tier shares ([[appendEpoch]], [[readAll]], [[readAsOf]],
  * [[compact]], [[gc]]) written once over them. A tier object extends
  * this and keeps only its `write` (the base plus any trained-state
  * siblings) and its serving and probe plans; the admission loops'
  * decision logs are the identity-encoded instance ([[AdmittedLog]]).
  *
  * Every snapshot read is one scan of (base, deltas by epoch) under
  * the schema the segments carry, so a reader's plan is the same
  * whichever operation resolved the segment list, and runs no job. */
abstract class SegmentedIndex {

  /** One epoch of input as segment rows, using the tier's FIXED
    * trained state read from `path` (none for the stateless tiers). */
  protected def encode(spark: SparkSession, path: String, input: DataFrame): DataFrame

  /** The columns a segment is partitioned by on disk: `c_id` for the
    * inverted-list tiers ([[IvfIndex]], [[IvfPqIndex]]), whose probes
    * prune to the probed lists' dirs. */
  protected def partitionCols: Seq[String] = Nil

  /** Persist one segment with its schema sidecar (overwrite — a replay
    * clobbers a torn attempt). */
  private[graft] def writeSegment(df: DataFrame, p: String): Unit =
    LsmSegments.writeArtifact(df, p, partitionCols)

  /** Commit `segment` as base generation 0 ([[LsmSegments.initBaseWith]]:
    * the siblings and the base write overlap, the marker lands last). */
  protected def initBase(spark: SparkSession, path: String,
      siblings: Seq[() => Unit] = Nil)(segment: => DataFrame): Unit =
    LsmSegments.initBaseWith(spark, path, siblings)(writeSegment(segment, _))

  /** A snapshot's segments under their carried schema: one scan, or
    * one per segment for the partitioned tiers. */
  private def load(spark: SparkSession, paths: Seq[String]): DataFrame =
    LsmSegments.readArtifacts(spark, paths, perPath = partitionCols.nonEmpty)

  /** Idempotently encode + append one epoch as a delta segment; false =
    * epoch already committed (replay — nothing is read or written). */
  def appendEpoch(
      spark: SparkSession, path: String, epoch: Long, input: DataFrame): Boolean =
    LsmSegments.appendEpoch(spark, path, epoch)(p =>
      writeSegment(encode(spark, path, input), p))

  /** Committed delta epochs, ascending. */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] =
    LsmSegments.committedEpochs(spark, path)

  /** One consistent snapshot: the current base generation ∪ the
    * committed deltas not yet folded into it. */
  def readAll(spark: SparkSession, path: String): DataFrame = {
    val (basePath, deltaPaths) = LsmSegments.liveSegments(spark, path)
    load(spark, basePath +: deltaPaths)
  }

  /** [[readAll]] AS OF a committed delta epoch ([[LsmSegments
    * .segmentsAsOf]]'s retained snapshot; −1 = the fresh base; epochs
    * past the gc horizon fail loudly). */
  def readAsOf(spark: SparkSession, path: String, epoch: Long): DataFrame = {
    val (basePath, deltaPaths) = LsmSegments.segmentsAsOf(spark, path, epoch)
    load(spark, basePath +: deltaPaths)
  }

  /** Fold committed deltas into a new base generation (marker written
    * last — interleaved readers stay consistent); data retired by
    * [[gc]], so lazy plans handed out before the compact stay valid. */
  def compact(spark: SparkSession, path: String): Unit =
    LsmSegments.compact(spark, path, load(spark, _), writeSegment)

  /** Retire superseded generations + folded delta data (epoch markers
    * kept — the replay guard). */
  def gc(spark: SparkSession, path: String, retainGens: Int = 0): Unit =
    LsmSegments.gc(spark, path, retainGens)
}

/** The admission loops' write-ahead decision log ([[Admission]],
  * [[RecordAdmission]]): the admitted rows themselves, one delta per
  * decided epoch. */
private[graft] object AdmittedLog extends SegmentedIndex {
  protected def encode(spark: SparkSession, path: String, input: DataFrame): DataFrame =
    input
}
