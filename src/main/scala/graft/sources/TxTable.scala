package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftshim.SchemaShim
import org.apache.spark.sql.types.StructType

/** TxTable — a minimal TRANSACTIONAL table over parquet: an ordered
  * commit log of immutable manifest files on top of immutable data
  * directories, giving snapshot isolation, optimistic concurrency,
  * idempotent (exactly-once) commits, time travel, log compaction and
  * orphan vacuum. The storage capability a 100 TB pipeline needs that
  * a bare parquet directory cannot provide: a reader must never
  * observe a half-written batch, a re-delivered batch must never
  * double-append, and yesterday's training snapshot must stay
  * reproducible after today's ingest. (Same design family as
  * open-source log-structured table formats — commit log + immutable
  * files — reduced to the minimal protocol this engine needs; no
  * external dependency.)
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   -- immutable data dirs, one per commit
  *   <root>/_txlog/v%010d.json           -- manifest: action + data dirs
  * }}}
  *
  * Protocol:
  *  - WRITE: stage the batch's parquet files into a fresh uuid dir
  *    (invisible — only manifests make data visible), then publish
  *    manifest version N+1 via an atomic CREATE-EXCLUSIVE hard link.
  *    Two writers racing to one version: exactly one link succeeds
  *    (EEXIST for the loser), the loser re-reads the log head and
  *    retries — optimistic concurrency with no lock server, the
  *    standard object-store commit trick.
  *  - IDEMPOTENT WRITE: [[commitIfAbsent]] pins the version instead
  *    of retrying — a REPLAYED batch (streaming re-delivery after a
  *    checkpoint reset, a re-run backfill) re-attempts the same
  *    version, loses the create-exclusive race against its own first
  *    delivery, and becomes a no-op. Exactly-once sinks reduce to
  *    "version = f(batch id)".
  *  - READ: [[snapshot]] resolves the manifest list ONCE into a
  *    concrete directory set; later commits add new manifests + new
  *    dirs and never touch resolved ones, so an in-flight reader is
  *    isolated by construction.
  *  - TIME TRAVEL: `snapshot(spark, asOf = Some(v))` replays the log
  *    up to v — an `overwrite` manifest resets the visible set, an
  *    `append` extends it.
  *  - MERGE-ON-READ DELETE: [[deleteWhere]] publishes a `delete`
  *    manifest whose `dvs` dirs hold (file_path, row_index)
  *    tombstones — no data rewrite; readers apply them as one
  *    broadcast anti-join and OPTIMIZE materializes them away.
  *  - COMPACTION: [[checkpointCompact]] publishes one `overwrite`
  *    manifest holding the CURRENT resolved dir list — no data moves;
  *    readers at or after it fold from one manifest instead of the
  *    whole log. Keeps log replay O(recent) as versions accumulate.
  *  - VACUUM: [[vacuum]] deletes data dirs (and Bloom sidecars)
  *    referenced by NO manifest — the leakage mode of this protocol
  *    is an orphan from a crash (or lost race) between staging and
  *    publish. Orphans are invisible to readers, but an IN-FLIGHT
  *    writer's staged dir looks identical until its manifest lands,
  *    so reclamation is gated by a retention window (mtime): only
  *    unreferenced entries older than the window are deleted.
  *
  * Scale notes: manifests carry directory names, not per-row state —
  * commit cost is O(1) in table size; reads plan a normal multi-dir
  * vectorized parquet scan (pushdown/pruning intact) from each dir's
  * file list and schema, read once per [[TxTable]] instance.
  */
object TxTable {
  /** Default [[TxTable.vacuum]] retention: an hour dwarfs any real
    * stage→publish window while still reclaiming crash orphans the
    * same day. Pass 0 explicitly when no writer can be in flight.
    */
  final val DefaultVacuumRetentionMillis: Long = 60L * 60L * 1000L

  /** String zone bounds ride the manifest as lowercase UTF-8 hex:
    * fixed-width per byte, so lexicographic HEX order == byte order ==
    * Spark's UTF8String order == parquet/DuckDB binary collation —
    * pruning compares hex directly and stays sound without ever
    * parsing arbitrary string content out of JSON.
    */
  private[graft] def toHex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private[graft] def fromHex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")
}

/** A concurrent commit invalidated this transaction's read snapshot:
  * committing anyway would be a LOST UPDATE (the write was derived
  * from rows another writer changed or removed in the meantime). The
  * caller's correct move is to re-run the whole read→compute→commit
  * cycle against the new head ([[TxTable.mergeSerializable]] packages
  * that loop). Blind appends never see this — they read nothing, so
  * no interleaved commit can invalidate them.
  */
final class ConcurrentWriteException(msg: String)
  extends RuntimeException(msg)

/** A fixed file set as a Spark [[FileIndex]]: the files of a TxTable
  * read, listed once from immutable dirs, with no partition columns
  * (staged dirs are flat; clustered rewrites publish their bucket
  * leaves as dirs).
  */
private final class TxFileIndex(val rootPaths: Seq[HPath], files: Seq[FileStatus])
    extends FileIndex {
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}

/** A read-snapshot-pinned transaction over a [[TxTable]] — the
  * Delta-style serializable commit protocol. Reads through the
  * transaction are pinned to the version at creation AND recorded as
  * the transaction's read set (full-table, or per-column ranges);
  * [[commit]] re-validates that read set against every commit that
  * landed in between and refuses (throws [[ConcurrentWriteException]])
  * when one could have changed what this transaction read:
  *
  *  - interleaved `overwrite` (compaction/restore/merge): conflicts
  *    with ANY reading transaction — history was rewritten.
  *  - interleaved delete / merge-on-read update (dvs-bearing commit):
  *    conflicts with any reading transaction — rows it read may be
  *    gone. (DV tombstones carry no zone metadata, so no disjointness
  *    proof is attempted; conservative is correct here.)
  *  - interleaved pure append: conflicts with a full-table reader;
  *    for a range reader it conflicts UNLESS the append's zone maps
  *    prove every appended dir disjoint from every read range — the
  *    zone metadata does double duty as a conflict-narrowing index,
  *    exactly why serializable writers keep committing at high
  *    append throughput on a range-partitioned 100 TB table.
  *  - a transaction that read NOTHING (blind append) never conflicts.
  *
  * The validation window is race-free without a lock server: winning
  * the create-exclusive publish at version v proves no commit landed
  * between validating (readVersion, v-1] and publishing v — any
  * interloper would have taken v itself (the version chain is
  * gap-free), in which case the publish loses and validation re-runs
  * over the extended window.
  */
final class TxTransaction private[sources] (t: TxTable) {
  /** The head this transaction's reads are pinned to (0 = empty). */
  val readVersion: Long = t.latestVersion().getOrElse(0L)
  private var readTable: Boolean = false
  private var readRanges: Vector[(String, Long, Long)] = Vector.empty

  /** Full-snapshot read at [[readVersion]]; records a table read. */
  def snapshot(spark: SparkSession): DataFrame = {
    readTable = true
    t.snapshot(spark, Some(readVersion))
  }

  /** Zone-pruned range read at [[readVersion]]; records a range read
    * on `statsCol`, against which interleaved appends are checked.
    */
  def snapshotRange(spark: SparkSession, statsCol: String,
                    lo: Long, hi: Long): DataFrame = {
    readRanges :+= ((statsCol, lo, hi))
    t.snapshotRange(spark, statsCol, lo, hi, Some(readVersion))
  }

  /** Commit `df` after validating the read set against every commit
    * that landed since [[readVersion]]. Throws
    * [[ConcurrentWriteException]] on conflict (staged data cleaned
    * up); otherwise publishes at the current head + 1 and returns the
    * version. `action` is "append" or "overwrite" (a read-then-
    * replace MERGE commits as "overwrite").
    */
  def commit(df: DataFrame, action: String = "append"): Long =
    t.commitValidated(df, action, readVersion, readTable, readRanges)
}

class TxTable(val root: String) {

  private val logDir: Path = Paths.get(root, "_txlog")
  private val dataDir: Path = Paths.get(root, "data")

  private def manifestPath(v: Long): Path = logDir.resolve(f"v$v%010d.json")

  /** Versions present in the log, ascending (empty table → empty). */
  def versions(): Seq[Long] =
    if (!Files.isDirectory(logDir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val it = Files.list(logDir)
      try it.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
      finally it.close()
    }

  def latestVersion(): Option[Long] = versions().lastOption

  /** Append `df` as a new committed version; returns the version. */
  def append(df: DataFrame): Long = commit(df, "append")

  /** Append with a ZONE MAP: the manifest additionally records
    * min/max of long column `statsCol` over the batch (one extra tiny
    * aggregate at commit time), so range reads can skip whole data
    * dirs without opening a file — manifest-level data skipping, the
    * capability that turns a 100 TB log table into a range-indexed
    * one when commits are range-clustered (time, id band, partition).
    */
  def appendWithStats(df: DataFrame, statsCol: String): Long = {
    // Zones come from the STAGED FILES' parquet footers (round 15):
    // the write is the one unavoidable pass over the batch, and the
    // footers already carry exact INT64 min/max — the former shape
    // ran a separate aggregation job over the batch's whole lineage
    // first, i.e. one extra full pass per commit at any scale. Footer
    // merge is a driver-side metadata read (no job), value-identical
    // (parquet INT64 stats are exact, all-null/empty batches surface
    // as hasNonNullValue=false on every file → no zone, as before).
    val stage = stageData(df)
    val stats = footerLongZones(df.sparkSession, stage, Seq(statsCol))
      .get(statsCol).map { case (mn, mx) => (statsCol, mn, mx) }
    var attempt = latestVersion().getOrElse(0L) + 1
    while (!tryPublish(attempt, "append", Seq(stage), stats)) {
      attempt = latestVersion().getOrElse(0L) + 1
    }
    attempt
  }

  /** [[appendWithStats]] for SEVERAL columns at once: the manifest
    * records a zone per column for the one staged dir (index-keyed
    * zone entries, the same encoding the clustered rewrite uses), so
    * [[snapshotRange]] prunes this commit on ANY of them. One tiny
    * multi-aggregate at commit time; all columns must be BIGINT.
    */
  def appendWithStatsMulti(df: DataFrame, statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, s"TxTable $root: statsCols must be non-empty")
    // Footer-derived zones, same as [[appendWithStats]] (round 15):
    // one pass (the staged write) instead of aggregate-then-write.
    val stage = stageData(df)
    val fz = footerLongZones(df.sparkSession, stage, statsCols)
    val zones = statsCols.flatMap(c => fz.get(c).map {
      case (mn, mx) => (0, c, mn, mx)
    })
    var attempt = latestVersion().getOrElse(0L) + 1
    while (!tryPublish(attempt, "append", Seq(stage), zones = zones)) {
      attempt = latestVersion().getOrElse(0L) + 1
    }
    attempt
  }

  /** Range read with manifest-level data skipping: dirs whose zone
    * [min,max] provably misses [lo,hi] are never opened; dirs WITHOUT
    * a zone for `statsCol` are kept (skipping is an optimization, the
    * residual filter below keeps the answer exact either way). One
    * log replay serves the pruning, the dir set AND the DV set.
    */
  def snapshotRange(spark: SparkSession, statsCol: String,
                    lo: Long, hi: Long,
                    asOf: Option[Long] = None): DataFrame = {
    val st = replayLog(asOf)
    val dirs = pruneRange(st, statsCol, lo, hi)
    import org.apache.spark.sql.functions.col
    if (dirs.isEmpty)
      snapshot(spark, asOf).filter(org.apache.spark.sql.functions.lit(false))
    else
      // Union schema ([[scan]]): on an evolved table rows predating
      // `statsCol` read as NULL and fail the range predicate — excluded,
      // as they should be.
      applyDeletes(spark, scan(spark, dirs), st.dvs)
        .filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** [[appendWithStats]] for a STRING column: the manifest records the
    * batch's min/max as UTF-8 hex ([[TxTable.toHex]] — byte order ==
    * Spark/parquet binary string order, and hex needs no JSON
    * escaping however hostile the values). This is VARCHAR data
    * skipping — category, date-string and identifier-prefix ranges
    * prune at the manifest level just like BIGINT zones.
    */
  def appendWithStatsString(df: DataFrame, statsCol: String): Long = {
    val r = df.agg(org.apache.spark.sql.functions.min(statsCol),
      org.apache.spark.sql.functions.max(statsCol)).head()
    val szones =
      if (r.isNullAt(0)) Nil // empty/all-null batch: no zone, never skipped
      else Seq((0, statsCol,
        TxTable.toHex(r.getString(0)), TxTable.toHex(r.getString(1))))
    val stage = stageData(df)
    var attempt = latestVersion().getOrElse(0L) + 1
    while (!tryPublish(attempt, "append", Seq(stage), szones = szones)) {
      attempt = latestVersion().getOrElse(0L) + 1
    }
    attempt
  }

  /** [[snapshotRange]] for STRING bounds: dirs whose recorded [min,
    * max] provably misses [lo,hi] under binary order are never
    * opened; dirs without a string zone for `statsCol` are kept and
    * the residual BETWEEN keeps the answer exact either way.
    */
  def snapshotRangeString(spark: SparkSession, statsCol: String,
                          lo: String, hi: String,
                          asOf: Option[Long] = None): DataFrame = {
    val st = replayLog(asOf)
    val dirs = pruneRangeString(st, statsCol, lo, hi)
    import org.apache.spark.sql.functions.col
    if (dirs.isEmpty)
      snapshot(spark, asOf).filter(org.apache.spark.sql.functions.lit(false))
    else
      applyDeletes(spark, scan(spark, dirs), st.dvs)
        .filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** The dirs a string-range read must open (exposed for testing). */
  def resolveDirsRangeString(statsCol: String, lo: String, hi: String,
                             asOf: Option[Long] = None): Seq[String] =
    pruneRangeString(replayLog(asOf), statsCol, lo, hi)

  private def pruneRangeString(st: LogState, statsCol: String,
                               lo: String, hi: String): Seq[String] = {
    val (loH, hiH) = (TxTable.toHex(lo), TxTable.toHex(hi))
    st.dirs.filter { d =>
      st.szones.getOrElse(d, Map.empty).get(statsCol) match {
        case Some((mn, mx)) => !(mx < loH || mn > hiH)
        case None => true // no zone: must read
      }
    }
  }

  /** Append with a BLOOM FILTER on long column `bloomCol`: the filter
    * is written to a SIDECAR file next to the log (sized from the
    * batch's exact count, fpp 3%) and referenced by the manifest —
    * point lookups ([[snapshotEquals]]) then skip every dir whose
    * filter proves the key absent. Zone maps bound RANGES; blooms
    * bound MEMBERSHIP — the "find this document id / user id in a
    * 100 TB log" path. Sidecars keep manifests O(bytes): real table
    * formats make the same split (tiny commit record, fat index
    * files).
    */
  def appendWithBloom(df: DataFrame, bloomCol: String): Long = {
    // Stage FIRST (round 15): the former shape computed the batch's
    // whole lineage three times — count job, bloom-build job, staged
    // write. Now the write is the only execution of the lineage; the
    // exact row count comes from the staged footers (driver-side
    // metadata, no job) and the filter builds from a read-back of the
    // staged files. Bits are identical: same values (the staged rows),
    // same expectedNumItems (footer row count == df.count()), same
    // fpp, and BloomFilter insertion is order-invariant.
    val stage = stageData(df)
    val n = footerRowCount(df.sparkSession, stage)
    val bf =
      if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, 0.03)
      else scan(df.sparkSession, Seq(stage))
        .stat.bloomFilter(bloomCol, n, 0.03)
    var attempt = latestVersion().getOrElse(0L) + 1
    var published = false
    while (!published) {
      val sidecar = f"b$attempt%010d.bloom"
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      // Sidecar exists in full BEFORE the manifest names it (same
      // write-then-publish discipline as the data dirs); a losing race
      // leaves an orphan sidecar, deleted below.
      Files.write(logDir.resolve(sidecar), bos.toByteArray)
      published = tryPublish(attempt, "append", Seq(stage), None,
        Some((bloomCol, sidecar)))
      if (!published) {
        Files.deleteIfExists(logDir.resolve(sidecar))
        attempt = latestVersion().getOrElse(0L) + 1
      }
    }
    attempt
  }

  /** Point-lookup read: dirs whose Bloom filter proves `value` absent
    * are never opened; dirs without a filter for `eqCol` are kept.
    * The residual equality filter keeps the answer exact regardless
    * of skipping (a Bloom hit is only "maybe"). One log replay serves
    * the pruning, the dir set AND the DV set.
    */
  def snapshotEquals(spark: SparkSession, eqCol: String, value: Long,
                     asOf: Option[Long] = None): DataFrame = {
    val st = replayLog(asOf)
    val dirs = pruneEquals(st, eqCol, value)
    import org.apache.spark.sql.functions.col
    if (dirs.isEmpty)
      snapshot(spark, asOf).filter(org.apache.spark.sql.functions.lit(false))
    else
      applyDeletes(spark, scan(spark, dirs), st.dvs)
        .filter(col(eqCol) === value)
  }

  /** The dirs a point lookup must open (exposed for testing). */
  def resolveDirsEquals(eqCol: String, value: Long,
                        asOf: Option[Long] = None): Seq[String] =
    pruneEquals(replayLog(asOf), eqCol, value)

  private def pruneEquals(st: LogState, eqCol: String,
                          value: Long): Seq[String] =
    st.dirs.filter { d =>
      st.blooms.get(d) match {
        case Some((c, sidecar)) if c == eqCol =>
          val in = Files.newInputStream(logDir.resolve(sidecar))
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
            .mightContainLong(value)
          finally in.close()
        case _ => true // no usable filter: must read
      }
    }

  /** CHANGES FEED: every row appended in versions (afterVersion,
    * untilVersion], stamped with its `_commit_version` — the
    * incremental-consumer contract (downstream rollups, dedup-index
    * maintenance, feature backfills process exactly the new commits,
    * never table history; cost is O(changed data)). An `overwrite`
    * manifest inside the range is a history rewrite that CANNOT be
    * expressed as row-level appends — the feed throws and the consumer
    * must re-read a full snapshot (the same contract log-structured
    * table formats expose for non-append commits).
    */
  def readChanges(spark: SparkSession, afterVersion: Long,
                  untilVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions()
      .filter(v => v > afterVersion && untilVersion.forall(v <= _))
    // Vacuumed-log guard (Delta's CDF errors on missing log versions in
    // range, and so must we): commits are minted sequentially, so the
    // feed is complete only if the surviving manifests tile the range
    // contiguously from afterVersion+1. After vacuumLog deletes
    // pre-checkpoint manifests, a consumer whose afterVersion predates
    // the checkpoint would otherwise get those appends silently DROPPED
    // (the checkpoint replays as a no-op) — fail loudly instead.
    vs.zipWithIndex.foreach { case (v, i) =>
      if (v != afterVersion + 1 + i)
        throw new IllegalStateException(
          s"TxTable $root: changes after version $afterVersion requested but " +
            s"version ${afterVersion + 1 + i} is missing from the log " +
            "(vacuumed after a checkpoint) — re-read a full snapshot")
    }
    val parts = vs.flatMap { v =>
      val m = readManifest(v)
      // A checkpoint re-lists the whole live dir set without changing
      // anything — to a changes consumer it is a no-op, not a change.
      if (m.action == "checkpoint") None
      else {
      if (m.action == "overwrite")
        throw new IllegalStateException(
          s"TxTable $root: overwrite at version $v inside the changes " +
            "range — re-read a full snapshot")
      if (m.action == "delete" || m.dvs.nonEmpty)
        throw new IllegalStateException(
          s"TxTable $root: merge-on-read delete/update at version $v inside " +
            "the changes range — row removal cannot be expressed as appends; " +
            "re-read a full snapshot")
      if (m.dirs.isEmpty) None
      else Some(scan(spark, m.dirs).withColumn("_commit_version", lit(v)))
      }
    }
    if (parts.isEmpty)
      throw new IllegalStateException(
        s"TxTable $root: no appends after version $afterVersion")
    // allowMissingColumns: a range spanning an additive schema-evolution
    // commit (the snapshotEvolved pattern) yields the union schema with
    // nulls where an older commit predates a column, instead of throwing.
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The dirs a range read must open ([[snapshotRange]]'s pruning,
    * exposed for inspection/testing).
    */
  def resolveDirsRange(statsCol: String, lo: Long, hi: Long,
                       asOf: Option[Long] = None): Seq[String] =
    pruneRange(replayLog(asOf), statsCol, lo, hi)

  private def pruneRange(st: LogState, statsCol: String,
                         lo: Long, hi: Long): Seq[String] =
    st.dirs.filter { d =>
      st.zones.get(d).flatMap(_.get(statsCol)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no usable zone: must read
      }
    }

  /** Replace the visible table with `df` as a new committed version. */
  def overwrite(df: DataFrame): Long = commit(df, "overwrite")

  /** Idempotent commit PINNED to `version` (exactly-once sinks:
    * version = batch id + base). Returns true if this call published
    * the version, false if it already existed — in which case the
    * staged data is removed again and the table is untouched, so a
    * re-delivered batch is a no-op rather than a duplicate.
    */
  def commitIfAbsent(df: DataFrame, version: Long,
                     action: String = "append"): Boolean = {
    if (Files.exists(manifestPath(version))) return false // cheap pre-check
    val stage = stageData(df)
    val won = tryPublish(version, action, Seq(stage))
    if (!won) graft.TmpIO.deleteRecursively(new java.io.File(stage))
    won
  }

  /** Open a serializable [[TxTransaction]] pinned to the current head. */
  def transaction(): TxTransaction = new TxTransaction(this)

  /** Serializable read-compute-replace (the MERGE shape): run
    * `compute` on a transaction-pinned snapshot and commit the result
    * as an overwrite; on [[ConcurrentWriteException]] re-run the WHOLE
    * cycle against the new head, so the final state is always
    * equivalent to this merge running serially after every concurrent
    * commit — the lost-update outcome a blind read+overwrite permits
    * is impossible by construction. Bounded retries: under real
    * contention a caller should see the failure, not an unbounded
    * recompute loop over a 100 TB snapshot.
    */
  def mergeSerializable(spark: SparkSession, maxRetries: Int = 5)(
      compute: DataFrame => DataFrame): Long = {
    var attempt = 0
    while (true) {
      val tx = transaction()
      val merged = compute(tx.snapshot(spark))
      try return tx.commit(merged, "overwrite")
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** [[TxTransaction.commit]]'s engine: validate-then-publish with the
    * gap-free-version-chain race argument documented on the class.
    */
  private[sources] def commitValidated(df: DataFrame, action: String,
                                       readVersion: Long, readTable: Boolean,
                                       readRanges: Seq[(String, Long, Long)]): Long = {
    val stage = stageData(df)
    var attempt = latestVersion().getOrElse(0L) + 1
    while (true) {
      try validateNoConflict(readVersion, attempt - 1, readTable, readRanges)
      catch {
        case e: ConcurrentWriteException =>
          graft.TmpIO.deleteRecursively(new java.io.File(stage))
          throw e
      }
      if (tryPublish(attempt, action, Seq(stage))) return attempt
      attempt = latestVersion().getOrElse(0L) + 1
    }
    -1L // unreachable
  }

  /** Throw iff a commit in (readVersion, head] could have changed
    * what a transaction with this read set observed (conflict matrix
    * on [[TxTransaction]]).
    */
  private def validateNoConflict(readVersion: Long, head: Long,
                                 readTable: Boolean,
                                 readRanges: Seq[(String, Long, Long)]): Unit = {
    if (!readTable && readRanges.isEmpty) return // blind write: no read set
    versions().filter(v => v > readVersion && v <= head).foreach { v =>
      val m = readManifest(v)
      def fail(kind: String): Nothing = throw new ConcurrentWriteException(
        s"TxTable $root: concurrent $kind at version $v conflicts with a " +
          s"transaction that read version $readVersion — re-run the " +
          "read-compute-commit cycle against the new head")
      // A checkpoint republishes the SAME logical state (dirs + DVs +
      // annotations) — nothing a reader observed can have changed, so
      // it is the one dirs-bearing commit class that never conflicts.
      if (m.action != "checkpoint") {
        if (m.action == "overwrite") fail("overwrite")
        if (m.dvs.nonEmpty) fail("delete/update")
        if (m.dirs.nonEmpty) {
          if (readTable) fail("append")
          // Range-only reader: the append passes iff its zones PROVE
          // every appended dir misses every read range; a dir without a
          // zone for the read column might overlap — conservative fail.
          val disjoint = m.dirs.zipWithIndex.forall { case (_, i) =>
            readRanges.forall { case (c, lo, hi) =>
              val z = m.zones.collectFirst {
                case (zi, zc, mn, mx) if zi == i && zc == c => (mn, mx) }
                .orElse(m.stats.collect { case (sc, mn, mx) if sc == c => (mn, mx) })
              z.exists { case (mn, mx) => mx < lo || mn > hi }
            }
          }
          if (!disjoint) fail("append overlapping the read ranges")
        }
      }
    }
  }

  /** Snapshot read: replay manifests up to `asOf` (default: head) into
    * a concrete directory set, resolved EAGERLY — the returned
    * DataFrame is pinned to this snapshot no matter how many commits
    * land while it is being consumed. The schema is the union of the
    * visible dirs' schemas ([[scan]]).
    */
  def snapshot(spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    val (dirs, dvs) = resolveDirsAndDvs(asOf) // one log replay per read
    if (dirs.isEmpty)
      throw new IllegalStateException(s"TxTable $root: no committed data" +
        asOf.map(v => s" at or before version $v").getOrElse(""))
    applyDeletes(spark, scan(spark, dirs), dvs)
  }

  /** Snapshot read under SCHEMA EVOLUTION: commits may ADD columns
    * over the table's life (the additive evolution every long-lived
    * ingest needs); the read is the union schema, with nulls where an
    * older commit predates a column. Since every read plans through
    * [[scan]], this is the same path as [[snapshot]]; the name stays
    * for callers that state the evolution contract explicitly.
    */
  def snapshotEvolved(spark: SparkSession, asOf: Option[Long] = None): DataFrame =
    snapshot(spark, asOf)

  /** Per-dir scan metadata: the qualified dir path, its data files and
    * the Spark schema of its first file (None: no data file).
    */
  private case class DirMeta(path: HPath, files: Seq[FileStatus],
                             schema: Option[StructType])

  /** [[DirMeta]] by dir, listed and footer-read once per instance. An
    * entry never goes stale: a published dir is a uuid dir that is never
    * rewritten, and [[vacuum]] deletes only dirs no manifest lists.
    */
  private val dirMeta = new ConcurrentHashMap[String, DirMeta]()

  /** One driver-side listing (the parquet reader's hidden-file rule:
    * skip `_*` and `.*`) plus one footer read — no Spark job. Every
    * file of a staged dir comes from one write, so one footer holds the
    * dir's schema.
    */
  private def dirMetaOf(spark: SparkSession, dir: String): DirMeta =
    dirMeta.computeIfAbsent(dir, _ => {
      val conf = spark.sessionState.newHadoopConf()
      val raw = new HPath(dir)
      val fs = raw.getFileSystem(conf)
      val path = fs.makeQualified(raw)
      val files = fs.listStatus(path).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }
      val schema = files.headOption.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        val footer = try r.getFooter finally r.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
      DirMeta(path, files, schema)
    })

  /** The one read path: a parquet scan over exactly the files of
    * `dirs`, planned from [[dirMeta]] — no directory listing and no
    * schema-inference job per read. The schema is the per-dir schemas
    * merged in `dirs` order by the merge `mergeSchema` uses, all fields
    * nullable as on any parquet read; file paths are the qualified
    * listing paths, so `_metadata.file_path` (the DV key) is unchanged.
    */
  private def scan(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val metas = dirs.map(dirMetaOf(spark, _))
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    val schema = metas.flatMap(_.schema)
      .reduceOption(SchemaShim.merge(_, _, caseSensitive))
      .getOrElse(throw new IllegalStateException(
        s"TxTable $root: no data files in ${dirs.mkString(", ")}"))
    val index = new TxFileIndex(metas.map(_.path), metas.flatMap(_.files))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      SchemaShim.asNullable(schema), None, new ParquetFileFormat(), Map.empty)(spark))
  }

  /** The full log state at `asOf`, from ONE replay: visible data dirs,
    * active DV dirs, per-dir zone maps and per-dir Bloom refs. Every
    * read path folds THIS once instead of paying separate replays for
    * dirs, DVs and skipping metadata.
    *
    * Visibility folding: `delete` (and dvs-bearing `append`, the
    * atomic-update shape) manifests accumulate DV dirs; an `overwrite`
    * replaces the dir AND dv sets with its own lists (a data rewrite
    * either materialized the deletes — empty list, the OPTIMIZE path —
    * or explicitly carries the active set forward, the checkpoint/
    * restore path). Zone/Bloom ANNOTATIONS stick to immutable dirs
    * permanently — a zone recorded by the manifest that created a dir
    * stays valid however often a later compaction re-lists it;
    * visibility is the dirs fold's job, annotation only decorates.
    * Zones are per-dir per-COLUMN maps: one dir may carry min/max for
    * several caller-named columns (multi-column data skipping).
    */
  private case class LogState(dirs: Vector[String], dvs: Vector[String],
                              zones: Map[String, Map[String, (Long, Long)]],
                              blooms: Map[String, (String, String)],
                              szones: Map[String, Map[String, (String, String)]]
                                = Map.empty)

  private def replayLog(asOf: Option[Long]): LogState = {
    val kept = versions().filter(v => asOf.forall(v <= _))
    val empty = LogState(Vector.empty, Vector.empty, Map.empty, Map.empty,
      Map.empty)
    // Fast path: a self-contained checkpoint manifest ([[checkpoint]])
    // carries the FULL state — dirs, DVs, per-dir zones and per-dir
    // Bloom refs — so replay folds only the tail after it. The
    // `_last_checkpoint` pointer is a best-effort hint (written after
    // the publish, racy by design): a stale, missing, or post-asOf
    // pointer just falls back to the full fold, never to a wrong one.
    val start = lastCheckpointVersion().filter(cv =>
      kept.contains(cv) && asOf.forall(cv <= _))
    val (init, tail) = start match {
      case Some(cv) =>
        val m = readManifest(cv)
        if (m.action == "checkpoint")
          (replayStep(empty, m), kept.filter(_ > cv))
        else (empty, kept) // corrupt pointer: full replay
      case None => (empty, kept)
    }
    tail.foldLeft(init)((st, v) => replayStep(st, readManifest(v)))
  }

  private def replayStep(st: LogState, m: Manifest): LogState = {
    // Commit-level stats annotate every dir of the commit (the
    // append path); index-keyed zones annotate dirs individually
    // (the clustered-rewrite / multi-column / checkpoint path) and
    // extend or override the commit-level entry column by column.
    val withStats = m.stats match {
      case Some((c, mn, mx)) => m.dirs.foldLeft(st.zones) { (z, d) =>
        z.updated(d, z.getOrElse(d, Map.empty) + (c -> ((mn, mx))))
      }
      case None => st.zones
    }
    val zones = m.zones.foldLeft(withStats) { case (z, (i, c, mn, mx)) =>
      m.dirs.lift(i).fold(z)(d =>
        z.updated(d, z.getOrElse(d, Map.empty) + (c -> ((mn, mx)))))
    }
    val withBloom = m.bloom.fold(st.blooms)(b => st.blooms ++ m.dirs.map(_ -> b))
    val blooms = m.dblooms.foldLeft(withBloom) { case (b, (i, c, f)) =>
      m.dirs.lift(i).fold(b)(d => b.updated(d, (c, f)))
    }
    val szones = m.szones.foldLeft(st.szones) { case (z, (i, c, lo, hi)) =>
      m.dirs.lift(i).fold(z)(d =>
        z.updated(d, z.getOrElse(d, Map.empty) + (c -> ((lo, hi)))))
    }
    m.action match {
      case "overwrite" | "checkpoint" =>
        LogState(m.dirs.toVector, m.dvs.toVector, zones, blooms, szones)
      case _ =>
        LogState(st.dirs ++ m.dirs, st.dvs ++ m.dvs, zones, blooms, szones)
    }
  }

  private def lastCheckpointPath: Path = logDir.resolve("_last_checkpoint")

  /** The checkpoint-pointer hint, validated only as far as "names an
    * existing manifest" — action and asOf bounds are the caller's.
    */
  private def lastCheckpointVersion(): Option[Long] =
    if (!Files.exists(lastCheckpointPath)) None
    else try {
      val v = new String(Files.readAllBytes(lastCheckpointPath), "UTF-8").trim.toLong
      if (Files.exists(manifestPath(v))) Some(v) else None
    } catch { case _: Exception => None }

  /** Publish a SELF-CONTAINED log checkpoint (the Delta `_last_checkpoint`
    * analog): one `checkpoint` manifest carrying the complete current
    * state — live dirs, active DV dirs, per-dir zone maps AND per-dir
    * Bloom refs — plus a pointer file so readers fold checkpoint +
    * tail instead of the whole history. No data is staged or moved;
    * the cost is one manifest write however large the table.
    *
    * This is what keeps replay O(recent commits) on a table that has
    * accumulated a million commits: [[checkpointCompact]] collapses the
    * DIR list but leaves zone/Bloom annotations in the historical
    * manifests (replay must still read them all); a checkpoint carries
    * the annotations too, so everything before it is dead weight for
    * readers at or past it. Time travel BELOW the checkpoint still
    * full-replays — history is never rewritten.
    *
    * Concurrency: the manifest publishes through the same
    * create-exclusive loop as every commit; it changes no logical
    * state, so [[TxTransaction]] validation skips it (a checkpoint
    * landing mid-transaction is NOT a conflict). The pointer is
    * written after the publish with an atomic rename; two racing
    * checkpoints can leave the pointer at the older one, which costs
    * tail length, never correctness.
    */
  def checkpoint(): Long = {
    var v = latestVersion().getOrElse(0L) + 1
    var st = replayLog(None)
    def zonesOf(s: LogState): Seq[(Int, String, Long, Long)] =
      s.dirs.zipWithIndex.flatMap { case (d, i) =>
        s.zones.getOrElse(d, Map.empty).toSeq.sortBy(_._1)
          .map { case (c, (mn, mx)) => (i, c, mn, mx) }
      }
    def dbloomsOf(s: LogState): Seq[(Int, String, String)] =
      s.dirs.zipWithIndex.flatMap { case (d, i) =>
        s.blooms.get(d).map { case (c, f) => (i, c, f) }
      }
    def szonesOf(s: LogState): Seq[(Int, String, String, String)] =
      s.dirs.zipWithIndex.flatMap { case (d, i) =>
        s.szones.getOrElse(d, Map.empty).toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => (i, c, lo, hi) }
      }
    while (!tryPublish(v, "checkpoint", st.dirs, zones = zonesOf(st),
                       dblooms = dbloomsOf(st), dvs = st.dvs,
                       szones = szonesOf(st))) {
      v = latestVersion().getOrElse(0L) + 1
      st = replayLog(None)
    }
    val tmp = Files.createTempFile(logDir, "._lc-", ".tmp")
    try {
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, lastCheckpointPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: Exception => () } // pointer is a hint; publish stands
    finally Files.deleteIfExists(tmp)
    v
  }

  /** The visible data dirs and active DV dirs at `asOf` (one replay). */
  def resolveDirsAndDvs(asOf: Option[Long] = None): (Seq[String], Seq[String]) = {
    val st = replayLog(asOf)
    (st.dirs, st.dvs)
  }

  /** The data directories visible at `asOf` (testing/inspection). */
  def resolveDirs(asOf: Option[Long] = None): Seq[String] =
    resolveDirsAndDvs(asOf)._1

  /** The DV dirs active at `asOf` (testing/inspection). */
  def resolveDvDirs(asOf: Option[Long] = None): Seq[String] =
    resolveDirsAndDvs(asOf)._2

  /** DV-applied live read KEEPING the (_dv_file, _dv_row) physical
    * identity columns — the shared first stage of [[deleteWhere]] and
    * [[updateWhere]] (both must address the surviving rows by
    * position to tombstone them).
    */
  private def liveKeyed(spark: SparkSession, dirs: Seq[String],
                        dvDirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // Union schema ([[scan]]): on a schema-evolved table the matched
    // rows must carry every evolved column, or updateWhere would drop
    // them from each replacement row it writes back.
    val raw = scan(spark, dirs)
      .withColumn("_dv_file", col("_metadata.file_path"))
      .withColumn("_dv_row", col("_metadata.row_index"))
    if (dvDirs.isEmpty) raw
    else {
      val dv = scan(spark, dvDirs)
      raw.join(broadcast(dv),
        raw("_dv_file") === dv("file_path")
          && raw("_dv_row") === dv("row_index"), "left_anti")
    }
  }

  /** Apply active deletion vectors to a raw multi-dir scan: tombstones
    * are (file_path, row_index) pairs — Spark's parquet metadata
    * columns give every row a stable physical identity with zero
    * storage overhead — and removal is one BROADCAST anti-join (the
    * DV set is bounded by delete volume since the last OPTIMIZE, not
    * by table size; a pipeline that lets deletes grow table-sized has
    * an OPTIMIZE-cadence problem, not a join-strategy one). The
    * metadata columns are projected only when DVs are active, so the
    * no-delete fast path is the plain vectorized scan, bit-identical
    * plans to before this feature existed.
    */
  private def applyDeletes(spark: SparkSession, df: DataFrame,
                           dvDirs: Seq[String]): DataFrame = {
    if (dvDirs.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col}
    val keyed = df
      .withColumn("_dv_file", col("_metadata.file_path"))
      .withColumn("_dv_row", col("_metadata.row_index"))
    val dv = scan(spark, dvDirs)
    keyed.join(broadcast(dv),
        keyed("_dv_file") === dv("file_path")
          && keyed("_dv_row") === dv("row_index"), "left_anti")
      .drop("_dv_file", "_dv_row")
  }

  /** MERGE-ON-READ row deletion (the Delta/Iceberg deletion-vector
    * analog): matching rows are tombstoned by physical position
    * (file_path, row_index) into a tiny DV parquet dir and published
    * as a `delete` manifest — NO data file is rewritten, so deleting
    * a thousand rows from a 100 TB table costs one filtered scan and
    * a KB-scale write instead of a table rewrite (the copy-on-write
    * alternative [[overwrite]] pays). Readers merge on read via one
    * broadcast anti-join; [[optimizeCompact]]/[[optimizeClustered]]
    * materialize the deletes and clear the DV set. Time travel is
    * exact: a snapshot BEFORE the delete version sees every row.
    * Tombstones are computed against the DV-APPLIED snapshot, so
    * re-deleting an already-deleted row never duplicates entries.
    * Optimistic like every commit; on losing the head race the staged
    * DV is stale (a concurrent OPTIMIZE may have rewritten the very
    * files it points into) — it is dropped and recomputed.
    */
  def deleteWhere(spark: SparkSession,
                  cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    while (true) {
      val head = latestVersion().getOrElse(0L)
      val (dirs, dvDirs) = resolveDirsAndDvs()
      if (dirs.isEmpty)
        throw new IllegalStateException(s"TxTable $root: nothing to delete from")
      val tomb = liveKeyed(spark, dirs, dvDirs).filter(cond)
        .select(col("_dv_file").as("file_path"), col("_dv_row").as("row_index"))
      val stage = stageData(tomb)
      if (tryPublish(head + 1, "delete", Nil, dvs = Seq(stage)))
        return head + 1
      // Lost the head race: the tombstones may point into files a
      // concurrent OPTIMIZE just retired — recompute against the new head.
      graft.TmpIO.deleteRecursively(new java.io.File(stage))
    }
    -1L // unreachable
  }

  /** MERGE-ON-READ UPDATE: tombstone the matching rows AND append
    * their transformed replacements in ONE manifest — an `append`
    * whose `dvs` carries the tombstones, so the swap is atomic (a
    * reader sees either the old rows or the new rows, never both,
    * never neither). Cost is proportional to the MATCHED rows (one
    * filtered scan + a matched-size write), not the table — the
    * row-level-update shape copy-on-write [[overwrite]] cannot afford
    * at 100 TB. `set` maps column name → replacement expression
    * evaluated on the matched rows; unlisted columns carry over.
    */
  def updateWhere(spark: SparkSession, cond: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    while (true) {
      val head = latestVersion().getOrElse(0L)
      val (dirs, dvDirs) = resolveDirsAndDvs()
      if (dirs.isEmpty)
        throw new IllegalStateException(s"TxTable $root: nothing to update")
      val dataCols = scan(spark, dirs).columns.toSeq // union schema
      // A typo'd set key would otherwise be a silent no-op that still
      // commits tombstones + unchanged replacements.
      val unknown = set.keySet -- dataCols.toSet
      require(unknown.isEmpty,
        s"TxTable $root: updateWhere set keys not in the table schema: " +
          unknown.mkString(", "))
      val matched = liveKeyed(spark, dirs, dvDirs).filter(cond).persist()
      try {
        val tomb = matched
          .select(col("_dv_file").as("file_path"), col("_dv_row").as("row_index"))
        val replaced = matched.select(dataCols.map(c =>
          set.getOrElse(c, col(c)).as(c)): _*)
        val dvStage = stageData(tomb)
        val rowStage = stageData(replaced)
        if (tryPublish(head + 1, "append", Seq(rowStage), dvs = Seq(dvStage)))
          return head + 1
        graft.TmpIO.deleteRecursively(new java.io.File(dvStage))
        graft.TmpIO.deleteRecursively(new java.io.File(rowStage))
      } finally { matched.unpersist(); () }
    }
    -1L // unreachable
  }

  /** DATA compaction (OPTIMIZE): rewrite the current snapshot into
    * `targetPartitions` files in ONE new dir and commit it as an
    * overwrite — the small-files remedy after many little appends
    * (streaming sinks, per-batch commits). History is untouched:
    * every pre-optimize version still resolves to its original
    * immutable dirs (reclaim them with [[vacuum]] only after dropping
    * history on purpose — they stay manifest-referenced until then).
    * Optimistic like every commit: losing the race to a concurrent
    * append re-reads the new head and rewrites, so no commit is ever
    * clobbered.
    */
  def optimizeCompact(spark: SparkSession, targetPartitions: Int = 1): Long = {
    while (true) {
      val head = latestVersion().getOrElse(0L)
      val (dirs, dvDirs) = resolveDirsAndDvs()
      if (dirs.isEmpty)
        throw new IllegalStateException(s"TxTable $root: nothing to optimize")
      // DV-applied read: the rewrite MATERIALIZES merge-on-read deletes,
      // and the published overwrite (empty dvs) clears the DV set. The
      // union schema ([[scan]]) keeps every evolved column in the rewrite.
      val stage = stageData(
        applyDeletes(spark, scan(spark, dirs), dvDirs)
          .coalesce(math.max(targetPartitions, 1)))
      if (tryPublish(head + 1, "overwrite", Seq(stage))) return head + 1
      // Lost to a concurrent commit: the rewrite is stale — drop it
      // and rebuild against the new head.
      graft.TmpIO.deleteRecursively(new java.io.File(stage))
    }
    -1L // unreachable
  }

  /** PARTIAL OPTIMIZE (the Delta `OPTIMIZE ... WHERE` analog): compact
    * ONLY the dirs whose `statsCol` zone intersects [lo, hi] — the
    * "compact the hot ingest range, never touch cold history" shape a
    * streaming table needs weekly at 100 TB (a full rewrite costs the
    * table; this costs the hot range). Dirs whose zone PROVABLY misses
    * the range keep their files, their zone annotations and their
    * active tombstones untouched; dirs without a zone for `statsCol`
    * are conservatively included (they might hold matching rows).
    * The rewritten dir materializes merge-on-read deletes for the
    * range it absorbs and carries a fresh zone; DV dirs are carried
    * forward — tombstones into retired files become no-ops (the
    * anti-join is by file path), tombstones into kept files stay
    * live. Optimistic like every commit.
    */
  def optimizeCompactWhere(spark: SparkSession, statsCol: String,
                           lo: Long, hi: Long,
                           targetPartitions: Int = 1): Long = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax, col}
    while (true) {
      val head = latestVersion().getOrElse(0L)
      val st = replayLog(None)
      if (st.dirs.isEmpty)
        throw new IllegalStateException(s"TxTable $root: nothing to optimize")
      val (rewrite, keep) = st.dirs.partition { d =>
        st.zones.getOrElse(d, Map.empty).get(statsCol) match {
          case Some((mn, mx)) => !(mx < lo || mn > hi)
          case None => true // unknown extent: must include
        }
      }
      if (rewrite.isEmpty) return head // nothing intersects: no-op
      val compacted = applyDeletes(spark, scan(spark, rewrite), st.dvs)
        .coalesce(math.max(targetPartitions, 1))
      val stage = stageData(compacted)
      // Zone from the staged rewrite's parquet footers (round 15) —
      // the read-back aggregation job is a metadata read now.
      val zones = footerLongZones(spark, stage, Seq(statsCol)).toSeq.map {
        case (_, (mn, mx)) => (keep.length, statsCol, mn, mx)
      }
      if (tryPublish(head + 1, "overwrite", keep :+ stage,
          zones = zones, dvs = st.dvs)) return head + 1
      graft.TmpIO.deleteRecursively(new java.io.File(stage))
    }
    -1L // unreachable
  }

  /** OPTIMIZE with CLUSTERING (the Delta `OPTIMIZE ... ZORDER BY`
    * analog): rewrite the visible snapshot bucketed by `cluster`
    * (any deterministic numeric expression — callers pass a Morton
    * zval for multi-dimensional clustering) and publish ONE atomic
    * overwrite manifest carrying PER-DIR `statsCol` zones, so
    * [[snapshotRange]]/[[resolveDirsRange]] prune buckets after the
    * rewrite. Data is bit-identical before/after (lossless rewrite);
    * only the physical layout and the skipping metadata change.
    *
    * Scale shape: one pass over the snapshot (bucket column is plan-
    * time arithmetic from a 2-scalar min/max read), one partitioned
    * write, one ≤ nBuckets-row stats read-back. Concurrency: same
    * optimistic loop as [[optimizeCompact]] — losing the head race
    * discards the staged rewrite and rebuilds against the new head;
    * readers never observe an intermediate state because the swap is
    * a single manifest. `statsCol` must be a BIGINT column (same
    * contract as [[appendWithStats]]); `__zb` is reserved.
    */
  def optimizeClustered(spark: SparkSession,
                        cluster: org.apache.spark.sql.Column,
                        statsCol: String, nBuckets: Int = 8): Long =
    optimizeClusteredMulti(spark, cluster, Seq(statsCol), nBuckets)

  /** [[optimizeClustered]] with MULTI-COLUMN zone maps: each rewritten
    * bucket dir records min/max for EVERY column in `statsCols`, so
    * [[snapshotRange]] can prune on any of them — including columns
    * that are not part of the cluster key (useful whenever a second
    * column is correlated with the layout: time with id bands,
    * revenue with size tiers). One extra min/max pair per bucket per
    * column in the ≤ nBuckets-row stats read-back; manifests stay
    * O(buckets × columns) bytes. All `statsCols` must be BIGINT (same
    * contract as [[appendWithStats]]).
    */
  def optimizeClusteredMulti(spark: SparkSession,
                             cluster: org.apache.spark.sql.Column,
                             statsCols: Seq[String],
                             nBuckets: Int = 8): Long = {
    import org.apache.spark.sql.functions._
    require(statsCols.nonEmpty, s"TxTable $root: statsCols must be non-empty")
    val n = math.max(nBuckets, 1)
    while (true) {
      val head = latestVersion().getOrElse(0L)
      val (dirs, dvDirs) = resolveDirsAndDvs()
      if (dirs.isEmpty)
        throw new IllegalStateException(s"TxTable $root: nothing to optimize")
      // DV-applied read: clustering rewrites materialize deletes too.
      val snap = applyDeletes(spark, scan(spark, dirs), dvDirs)
      val ck = cluster.cast("long")
      val r = snap.agg(min(ck), max(ck)).head()
      if (r.isNullAt(0)) return optimizeCompact(spark, 1) // no key values: plain compact
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val span = math.max(hi - lo + 1, 1L).toDouble
      // Equi-width bucket from plan-time literals: deterministic
      // across the write pass and the stats pass.
      val bucket = least(
        floor((ck - lit(lo)).cast("double") * lit(n) / lit(span)),
        lit((n - 1).toLong)).cast("int")
      val stage = dataDir.resolve(java.util.UUID.randomUUID().toString)
      Files.createDirectories(dataDir)
      snap.withColumn("__zb", bucket)
        .repartition(n, col("__zb"))
        .write.partitionBy("__zb").parquet(stage.toString)
      // Per-bucket zones from each bucket dir's parquet footers
      // (round 15): the former ≤ n-row stats read-back was still a
      // full columnar scan job over the staged rewrite; the footers
      // carry the same exact INT64 min/max at zero jobs. Bucket dirs
      // come from the staged layout itself (empty buckets write no
      // dir, exactly the rows the groupBy produced).
      val bucketDirs = {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(stage)
        try ls.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.startsWith("__zb="))
          .toSeq
          .sortBy(_.stripPrefix("__zb=").toInt)
          .map(d => stage.resolve(d).toString)
        finally ls.close()
      }
      val zones = bucketDirs.zipWithIndex.flatMap { case (d, i) =>
        val fz = footerLongZones(spark, d, statsCols)
        statsCols.flatMap(c => fz.get(c).map { case (mn, mx) => (i, c, mn, mx) })
      }
      if (tryPublish(head + 1, "overwrite", bucketDirs, zones = zones))
        return head + 1
      // Lost to a concurrent commit: the rewrite is stale — drop it
      // and rebuild against the new head.
      graft.TmpIO.deleteRecursively(new java.io.File(stage.toString))
    }
    -1L // unreachable
  }

  /** Log compaction: one `overwrite` manifest holding the CURRENT
    * resolved dir list — no data is rewritten; replay from here on
    * starts at this manifest. Returns the checkpoint version.
    */
  def checkpointCompact(): Long = {
    var v = latestVersion().getOrElse(0L) + 1
    // Carry the ACTIVE DV set forward: a log checkpoint rewrites no
    // data, so merge-on-read deletes must stay applied. One replay
    // per attempt (re-resolved on losing the race — the head moved).
    var (dirs, dvs) = resolveDirsAndDvs()
    while (!tryPublish(v, "overwrite", dirs, dvs = dvs)) {
      v = latestVersion().getOrElse(0L) + 1
      val st = resolveDirsAndDvs(); dirs = st._1; dvs = st._2
    }
    v
  }

  /** LOG RETENTION: delete every manifest BELOW the last checkpoint —
    * the step that makes [[checkpoint]]'s O(tail) replay an O(tail)
    * LOG too, and the head of the reclamation chain
    * (checkpoint → vacuumLog → [[vacuum]]): once pre-checkpoint
    * manifests are gone, data dirs referenced ONLY by them (e.g.
    * retired by a pre-checkpoint OPTIMIZE) lose their last reference
    * and become vacuumable. This EXPLICITLY surrenders time travel
    * below the checkpoint (reads there fail cleanly with "no
    * committed data" — spec'd in LogCheckpointSpec); like [[vacuum]]
    * with retention 0, call it only when no reader can be replaying
    * full history. No-op unless the pointer names a real checkpoint.
    */
  def vacuumLog(): Seq[Long] = lastCheckpointVersion() match {
    case Some(cv) if Files.exists(manifestPath(cv))
        && readManifest(cv).action == "checkpoint" =>
      val old = versions().filter(_ < cv)
      old.foreach(v => Files.deleteIfExists(manifestPath(v)))
      old
    case _ => Seq.empty
  }

  /** RESTORE to `toVersion` (the Delta `RESTORE TABLE ... TO VERSION`
    * analog): publish the RESOLVED dir set of that version as a new
    * overwrite head. Zero data movement — history after `toVersion`
    * stays readable (time travel is untouched; this is a new commit,
    * not a log rewind), and zone/Bloom annotations keep working
    * because they stick to the immutable dirs via their CREATING
    * manifests. Same optimistic loop as every other writer.
    */
  def restore(toVersion: Long): Long = {
    // The restored state includes the DVs active AT that version —
    // restoring to a point after a merge-on-read delete must not
    // resurrect the deleted rows. One replay serves both sets.
    val (dirs, dvs) = resolveDirsAndDvs(Some(toVersion))
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"TxTable $root: nothing to restore at version $toVersion")
    var v = latestVersion().getOrElse(0L) + 1
    while (!tryPublish(v, "overwrite", dirs, dvs = dvs)) {
      v = latestVersion().getOrElse(0L) + 1
    }
    v
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` analog):
    * create an independent table at `dstRoot` whose v1 manifest
    * REFERENCES this table's resolved data dirs — zero data copied,
    * one manifest written. Zone annotations are carried over as
    * per-dir zones so the clone's range reads prune exactly like the
    * source's. The clone is fully independent afterwards: its commits
    * land in its own log/data dirs, and its vacuum only ever scans its
    * OWN dataDir (borrowed source dirs are never orphan candidates).
    * The shared-fate contract is the same as every shallow-clone
    * implementation: vacuuming the SOURCE can retire dirs a clone
    * still references — retention discipline spans clones.
    */
  def shallowCloneTo(dstRoot: String, asOf: Option[Long] = None): TxTable = {
    val st = replayLog(asOf) // one replay: dirs + dvs + zone carry-over
    if (st.dirs.isEmpty)
      throw new IllegalStateException(
        s"TxTable $root: nothing to clone" +
          asOf.map(v => s" at or before version $v").getOrElse(""))
    val zones = st.dirs.zipWithIndex.flatMap { case (d, i) =>
      st.zones.getOrElse(d, Map.empty).map { case (c, (mn, mx)) =>
        (i, c, mn, mx) }
    }
    val dst = new TxTable(dstRoot)
    // Clones see the DV-applied state: borrowed DV dirs ride along
    // exactly like borrowed data dirs (same shared-fate contract).
    if (!dst.tryPublish(1, "overwrite", st.dirs, zones = zones,
        dvs = st.dvs))
      throw new IllegalStateException(
        s"TxTable $dstRoot: destination already has a version 1")
    dst
  }

  /** Delete data dirs referenced by NO manifest (crash/lost-race
    * orphans — invisible to every reader by construction), plus
    * `_txlog` Bloom sidecars no manifest names (the crash window
    * between sidecar write and manifest publish leaks one; the
    * race-loss path cleans up after itself, the crash path cannot).
    * Returns the deleted dir/file names.
    *
    * RETENTION: an in-flight writer's staged-but-unpublished dir is
    * indistinguishable from a crash orphan by name alone, so anything
    * younger than `retentionMillis` (mtime) is left in place — a live
    * commit completes or crashes well inside the default hour, after
    * which the dir is provably dead. Pass 0 only when no writer can
    * be in flight (tests, single-writer maintenance windows); real
    * log-structured formats gate reclamation with the same clock.
    */
  def vacuum(retentionMillis: Long = TxTable.DefaultVacuumRetentionMillis): Seq[String] = {
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - math.max(retentionMillis, 0L)
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: java.io.IOException => false } // vanished: skip
    val manifests = versions().map(readManifest)
    // Reference by the TOP-LEVEL dataDir component: clustered-rewrite
    // commits list NESTED bucket dirs (<uuid>/__zb=k), and vacuuming
    // the <uuid> parent because only its children are named would
    // delete live data.
    val dataRoot = dataDir.toAbsolutePath.normalize
    // DV dirs are ordinary staged dirs under data/ — any manifest's
    // dvs list protects them exactly like its dirs list.
    val referenced = manifests.flatMap(m => m.dirs ++ m.dvs).map { d =>
      val p = Paths.get(d).toAbsolutePath.normalize
      if (p.startsWith(dataRoot) && p.getNameCount > dataRoot.getNameCount)
        p.getName(dataRoot.getNameCount).toString
      else p.getFileName.toString
    }.toSet
    import scala.jdk.CollectionConverters._
    val it = Files.list(dataDir)
    val orphans =
      try it.iterator().asScala
        .filterNot(p => referenced.contains(p.getFileName.toString))
        .filter(oldEnough)
        .map(_.toString).toList
      finally it.close()
    orphans.foreach(o => graft.TmpIO.deleteRecursively(new java.io.File(o)))
    // Orphan Bloom sidecars: same publish discipline, same retention.
    val liveSidecars =
      (manifests.flatMap(_.bloom.map(_._2)) ++
        manifests.flatMap(_.dblooms.map(_._3))).toSet
    val deadSidecars =
      if (!Files.isDirectory(logDir)) Nil
      else {
        val lt = Files.list(logDir)
        try lt.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".bloom"))
          .filterNot(p => liveSidecars.contains(p.getFileName.toString))
          .filter(oldEnough)
          .map(_.toString).toList
        finally lt.close()
      }
    deadSidecars.foreach(s => Files.deleteIfExists(Paths.get(s)))
    (orphans ++ deadSidecars).map(Paths.get(_).getFileName.toString)
  }

  /** `zones` are PER-DIR stats keyed by INDEX into `dirs` (no paths
    * repeated in the zones JSON, so the hostile-root escaping problem
    * stays confined to the one dirs array): (dirIndex, column, min,
    * max). Commit-level `stats` annotates every dir of the commit
    * (the append path); `zones` annotates dirs individually (the
    * clustered-rewrite path) — Delta's per-file stats, one level up.
    */
  private case class Manifest(action: String, dirs: Seq[String],
                              stats: Option[(String, Long, Long)],
                              bloom: Option[(String, String)],
                              zones: Seq[(Int, String, Long, Long)] = Nil,
                              dvs: Seq[String] = Nil,
                              dblooms: Seq[(Int, String, String)] = Nil,
                              szones: Seq[(Int, String, String, String)] = Nil)

  /** JSON string escape for manifest values that carry FILESYSTEM
    * paths (the table root flows into every dir entry): quote,
    * backslash, and all control chars. Action/column/sidecar values
    * are engine-generated identifiers and need none of this.
    */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Parse a `"<key>":[...]` path array with a real string-aware scan —
    * a regex split on commas mis-parses any root containing `","`,
    * `"` or `]`. Honors the escapes [[jsonEscape]] emits. `required`
    * distinguishes the mandatory dirs array from the optional dvs one.
    */
  private def parsePathArray(s: String, v: Long, key: String,
                             required: Boolean): Seq[String] = {
    val ki = s.indexOf("\"" + key + "\"")
    val start = if (ki < 0) -1 else s.indexOf('[', ki)
    if (start < 0) {
      if (!required) return Seq.empty
      throw new IllegalStateException(
        s"TxTable $root: manifest v$v missing $key")
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = start + 1
    var inStr = false
    var done = false
    while (!done) {
      if (i >= s.length) throw new IllegalStateException(
        s"TxTable $root: manifest v$v has an unterminated $key array")
      val c = s.charAt(i)
      if (inStr) c match {
        case '\\' =>
          s.charAt(i + 1) match {
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
              i += 5
            case esc => sb += esc; i += 1
          }
        case '"' => out += sb.toString; sb.clear(); inStr = false
        case ch => sb += ch
      } else c match {
        case '"' => inStr = true
        case ']' => done = true
        case _ => () // comma / whitespace between entries
      }
      i += 1
    }
    out.toSeq
  }

  private def readManifest(v: Long): Manifest = {
    val s = new String(Files.readAllBytes(manifestPath(v)), "UTF-8")
    val action = "\"action\"\\s*:\\s*\"([^\"]*)\"".r
      .findFirstMatchIn(s).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"TxTable $root: manifest v$v missing action"))
    val dirs = parsePathArray(s, v, "dirs", required = true)
    val dvs = parsePathArray(s, v, "dvs", required = false)
    val stats =
      ("\"stats\"\\s*:\\s*\\{\"column\":\"([^\"]*)\"," +
        "\"min\":(-?\\d+),\"max\":(-?\\d+)\\}").r
        .findFirstMatchIn(s)
        .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
    val bloom =
      "\"bloom\"\\s*:\\s*\\{\"column\":\"([^\"]*)\",\"file\":\"([^\"]*)\"\\}".r
        .findFirstMatchIn(s)
        .map(m => (m.group(1), m.group(2)))
    // Index-keyed per-dir zones: engine-generated identifiers and
    // integers only, so a regex scan is exact here (unlike dirs).
    val zones =
      ("\\{\"i\":(\\d+),\"column\":\"([^\"]*)\"," +
        "\"min\":(-?\\d+),\"max\":(-?\\d+)\\}").r
        .findAllMatchIn(s)
        .map(m => (m.group(1).toInt, m.group(2),
          m.group(3).toLong, m.group(4).toLong))
        .toSeq
    // Index-keyed per-dir Bloom refs (the checkpoint path): sidecar
    // file names are engine-generated UUIDs, so the regex scan is
    // exact here too.
    val dblooms =
      "\\{\"i\":(\\d+),\"column\":\"([^\"]*)\",\"file\":\"([^\"]*)\"\\}".r
        .findAllMatchIn(s)
        .map(m => (m.group(1).toInt, m.group(2), m.group(3)))
        .toSeq
    // String zones: bounds are lowercase hex ([0-9a-f] only), so the
    // regex scan is exact however hostile the original string values.
    val szones =
      "\\{\"i\":(\\d+),\"column\":\"([^\"]*)\",\"slo\":\"([0-9a-f]*)\",\"shi\":\"([0-9a-f]*)\"\\}".r
        .findAllMatchIn(s)
        .map(m => (m.group(1).toInt, m.group(2), m.group(3), m.group(4)))
        .toSeq
    Manifest(action, dirs, stats, bloom, zones, dvs, dblooms, szones)
  }

  private def stageData(df: DataFrame): String = {
    Files.createDirectories(logDir)
    Files.createDirectories(dataDir)
    val stage = dataDir.resolve(java.util.UUID.randomUUID().toString)
    df.write.parquet(stage.toString)
    stage.toString
  }

  /** Parquet footers of a staged dir, driver-side (no Spark job). */
  private def stageFooters(spark: SparkSession, stage: String)
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(stage)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter finally r.close()
      }
  }

  /** Exact row count of a staged dir from its footers (no job). */
  private def footerRowCount(spark: SparkSession, stage: String): Long = {
    import scala.jdk.CollectionConverters._
    stageFooters(spark, stage)
      .flatMap(_.getBlocks.asScala.map(_.getRowCount)).sum
  }

  /** Exact per-column (min, max) of the named INT64 columns over a
    * staged dir, merged across files/row-groups from the parquet
    * FOOTERS alone — the same values a min/max aggregation over the
    * batch returns (INT64 statistics are exact, never truncated), at
    * zero Spark jobs. Columns absent, non-INT64, or with no non-null
    * value in any file are OMITTED from the result (→ no zone, as a
    * min/max aggregate over an empty/all-null batch gives). So is a column
    * whose chunk in a non-empty row group carries no min/max without
    * proving itself all-null (statistics disabled, a foreign writer):
    * its values are unbounded, and a zone from the other chunks would
    * let range pruning skip rows it holds.
    */
  private[graft] def footerLongZones(spark: SparkSession, stage: String,
                                     cols: Seq[String]): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val want = cols.toSet
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var unusable = Set.empty[String]
    stageFooters(spark, stage).foreach { md =>
      md.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (want.contains(name)) {
            val st = c.getStatistics
            if (c.getPrimitiveType.getPrimitiveTypeName !=
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
              unusable += name
            else if (st != null && st.hasNonNullValue) {
              val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
              val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
              acc.get(name) match {
                case Some((a, z)) =>
                  acc(name) = (math.min(a, mn), math.max(z, mx))
                case None => acc(name) = (mn, mx)
              }
            } else {
              val allNull = st != null && st.isNumNullsSet &&
                st.getNumNulls == c.getValueCount
              if (b.getRowCount > 0 && !allNull) unusable += name
            }
          }
        }
      }
    }
    (acc -- unusable).toMap
  }

  /** Stage the batch invisibly, then publish with create-exclusive
    * retry against the moving head. Data files exist BEFORE any
    * manifest names them, so a crash between the steps leaks an
    * orphan dir ([[vacuum]]able) but never a torn table.
    */
  private def commit(df: DataFrame, action: String): Long = {
    val stage = stageData(df)
    var attempt = latestVersion().getOrElse(0L) + 1
    while (!tryPublish(attempt, action, Seq(stage))) {
      attempt = latestVersion().getOrElse(0L) + 1
    }
    attempt
  }

  /** Publish manifest `v` exclusively: full bytes to a temp file, then
    * an atomic hard link into place — link(2) fails with EEXIST if the
    * version was taken, and a reader can never observe partial JSON
    * because the content exists in full before the name does. Returns
    * false on losing the race.
    */
  private[graft] def tryPublish(v: Long, action: String, dirs: Seq[String],
                                stats: Option[(String, Long, Long)] = None,
                                bloom: Option[(String, String)] = None,
                                zones: Seq[(Int, String, Long, Long)] = Nil,
                                dvs: Seq[String] = Nil,
                                dblooms: Seq[(Int, String, String)] = Nil,
                                szones: Seq[(Int, String, String, String)] = Nil): Boolean = {
    Files.createDirectories(logDir)
    def pathArray(ps: Seq[String]): String =
      ps.map(d => "\"" + jsonEscape(d.replace("\\", "/")) + "\"")
        .mkString("[", ",", "]")
    val dirsJson = pathArray(dirs)
    val dvsJson =
      if (dvs.isEmpty) "" else s""","dvs":${pathArray(dvs)}"""
    val statsJson = stats.map { case (c, mn, mx) =>
      s""","stats":{"column":"$c","min":$mn,"max":$mx}""" }.getOrElse("")
    val bloomJson = bloom.map { case (c, f) =>
      s""","bloom":{"column":"$c","file":"$f"}""" }.getOrElse("")
    val zonesJson =
      if (zones.isEmpty) ""
      else zones.map { case (i, c, mn, mx) =>
        s"""{"i":$i,"column":"$c","min":$mn,"max":$mx}""" }
        .mkString(""","zones":[""", ",", "]")
    val dbloomsJson =
      if (dblooms.isEmpty) ""
      else dblooms.map { case (i, c, f) =>
        s"""{"i":$i,"column":"$c","file":"${jsonEscape(f)}"}""" }
        .mkString(""","dblooms":[""", ",", "]")
    val szonesJson =
      if (szones.isEmpty) ""
      else szones.map { case (i, c, lo, hi) =>
        s"""{"i":$i,"column":"$c","slo":"$lo","shi":"$hi"}""" }
        .mkString(""","szones":[""", ",", "]")
    val json =
      s"""{"version":$v,"action":"$action","dirs":$dirsJson$statsJson$bloomJson$zonesJson$dbloomsJson$szonesJson$dvsJson}"""
    val tmp = Files.createTempFile(logDir, s".v$v-", ".tmp")
    Files.write(tmp, json.getBytes("UTF-8"))
    try {
      try { Files.createLink(manifestPath(v), tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // Filesystem without hard links: CREATE_NEW single write —
          // still create-exclusive, with an (accepted) tiny window of
          // partial content instead of none.
          try {
            Files.write(manifestPath(v), json.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      }
    } finally Files.deleteIfExists(tmp)
  }
}
