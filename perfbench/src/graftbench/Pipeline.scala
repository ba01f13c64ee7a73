package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.TxTable
import graft.streaming.ReactiveMetaPipeline

/** The paper's reactive pipeline: parquet drops land in a watched
  * directory; one stream appends them exactly once to a [[TxTable]]
  * (`commitIfAbsent` in `foreachBatch`), a second keeps
  * [[ReactiveMetaPipeline]]'s keyed min/max/count up to date.
  *
  * Phases: steady (one generator thread lands a drop every
  * `intervalMs` — open loop), backfill (a backlog lands at once and is
  * drained), read (seeded `snapshot`/`snapshotRange` reads of the table
  * the many small commits built). All inputs are staged during set-up,
  * so the timed phases only move files and wait.
  */
object Pipeline {
  /** Drops landed before timing starts, at the steady rate. */
  final val WarmDrops = 15
  final val SteadyDrops = 100
  final val BackfillReplays = 10
  final val BackfillFiles = 40
  final val Reads = 20

  private val Mask = 0xFFFFFFFFL

  /** Move each `_drop` slice of `df` into its own parquet file
    * `dir/<prefix><k>.parquet`; returns (file, rows) by slice number.
    */
  private def writeSlices(df: DataFrame, dir: String, prefix: String): Seq[(String, Long)] = {
    val tmp = s"$dir/_parts"
    df.repartition(col("_drop")).write.partitionBy("_drop").parquet(tmp)
    val rows = df.groupBy("_drop").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.keys.toSeq.sorted.map { k =>
      val parts = new java.io.File(s"$tmp/_drop=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"slice $k was written as ${parts.length} files")
      val dst = f"$dir/$prefix$k%04d.parquet"
      Files.move(parts.head.toPath, Paths.get(dst))
      (dst, rows(k))
    }
  }

  private def land(src: String, landing: String): String = {
    val dst = Paths.get(landing, Paths.get(src).getFileName.toString)
    Files.move(Paths.get(src), dst, StandardCopyOption.ATOMIC_MOVE)
    dst.toString
  }

  /** Rows a query has consumed so far (completed batches only). */
  private def consumed(q: StreamingQuery): Long =
    q.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.numInputRows).toMap.values.sum

  private def awaitConsumed(qs: Seq[StreamingQuery], rows: Long, timeoutMs: Double): Unit = {
    val t0 = Clock.now()
    while (qs.exists(consumed(_) < rows)) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      if (Clock.now() - t0 > timeoutMs)
        throw new IllegalStateException(s"streams did not consume $rows rows in $timeoutMs ms")
      Thread.sleep(2)
    }
  }

  /** Digest of a read: row count, sum of event ids and sum of 32-bit
    * row hashes (a multiset digest that cannot overflow here).
    */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.map(col).toIndexedSeq: _*).bitwiseAND(lit(Mask))

  private def digest(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L)),
      coalesce(sum(rowHash(df)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def run(ctx: Ctx, intervalMs: Double): Map[String, Any] = {
    val spark = ctx.spark
    val root = s"${ctx.workDir}/pipeline"
    val (stage, landing, txRoot, metaDir) =
      (s"$root/stage", s"$root/landing", s"$root/tx", s"$root/meta")
    val (ckTx, ckMeta) = (s"$root/ck_tx", s"$root/ck_meta")
    Files.createDirectories(Paths.get(landing))

    // ---- set-up: stage every drop and backlog file ----
    val s0 = Clock.now()
    val events = spark.read.parquet(s"${ctx.dataDir}/events.parquet")
    val idStep = events.agg(max(col("event_id"))).head().getLong(0) + 1
    def sliced(df: DataFrame, n: Int): DataFrame =
      df.withColumn("_drop", pmod(xxhash64(col("event_id"), lit(ctx.seed)), lit(n)).cast("int"))
    // Slices 0 until WarmDrops warm the streams up; the rest are the
    // steady phase.
    val all = writeSlices(sliced(events, WarmDrops + SteadyDrops), s"$stage/steady", "d")
    val (warmDrops, drops) = all.splitAt(WarmDrops)
    val replay = events
      .withColumn("_r", explode(lit((1 to BackfillReplays).toArray)))
      .withColumn("event_id", col("event_id") + col("_r").cast("long") * lit(idStep))
      .drop("_r")
    val backlog = writeSlices(sliced(replay, BackfillFiles), s"$stage/backfill", "b")
    val stageS = (Clock.now() - s0) / 1000.0

    // ---- warm-up: start both streams, then land the warm-up drops ----
    val w0 = Clock.now()
    val interval = intervalMs
    land(warmDrops.head._1, landing)
    val schema = spark.read.parquet(landing).schema
    val tx = new TxTable(txRoot)
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    val sc = spark.sparkContext
    sc.setLocalProperty(Spans.Key, "q:tx_append")
    val txQuery = spark.readStream.schema(schema).parquet(landing).writeStream
      .queryName("tx_append")
      .option("checkpointLocation", ckTx)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: DataFrame, id: Long) =>
        val won = Spans(spark, "txtable.commit", s"batch$id", s"q:tx_append:$id") {
          tx.commitIfAbsent(df, id + 1)
        }
        commits.add(Map("batch" -> id, "won" -> won))
        ()
      }
      .start()
    sc.setLocalProperty(Spans.Key, "q:meta")
    val metaQuery = new ReactiveMetaPipeline(landing, metaDir, ckMeta)
      .run(spark, Trigger.ProcessingTime(0L))
    sc.setLocalProperty(Spans.Key, null)
    val queries = Seq(txQuery, metaQuery)
    awaitConsumed(queries, warmDrops.head._2, 120000)
    warmDrops.tail.foreach { case (file, _) =>
      Thread.sleep(interval.toLong)
      land(file, landing)
    }
    var landedRows = warmDrops.map(_._2).sum
    awaitConsumed(queries, landedRows, 120000)
    val warmS = (Clock.now() - w0) / 1000.0

    // ---- steady phase: open loop, one generator thread ----
    val codegen0 = Tracer.codegen()
    val landed = new ConcurrentLinkedQueue[Map[String, Any]]()
    val t0 = Clock.now() + 20.0
    val gen = new Thread(() => {
      drops.zipWithIndex.foreach { case ((file, rows), i) =>
        val due = t0 + i * interval
        var wait = due - Clock.now()
        while (wait > 0) {
          if (wait > 2) Thread.sleep((wait - 1).toLong) else Thread.onSpinWait()
          wait = due - Clock.now()
        }
        val s = Spans.open("gen", Paths.get(file).getFileName.toString)
        val dst = land(file, landing)
        Spans.close(s, ok = true)
        landed.add(Map("file" -> Paths.get(dst).getFileName.toString,
          "due" -> due, "landed" -> Clock.now(), "rows" -> rows))
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    landedRows += drops.map(_._2).sum
    awaitConsumed(queries, landedRows, 120000)
    val steadyEnd = Clock.now()

    // ---- backfill: the whole backlog lands at once ----
    val bfStart = Clock.now()
    val order = new scala.util.Random(ctx.seed).shuffle(backlog)
    order.foreach { case (file, _) => land(file, landing) }
    val bfLanded = Clock.now()
    landedRows += backlog.map(_._2).sum
    awaitConsumed(queries, landedRows, 150000)
    val bfEnd = Clock.now()

    // ---- read phase: seeded reads of the many-commit table ----
    val rnd = new scala.util.Random(ctx.seed + 7)
    val types = Seq("click", "view", "purchase", "signup", "error")
    val maxId = idStep * (BackfillReplays + 1)
    val readSpecs = (0 until Reads).map { i =>
      if (i % 2 == 0) {
        val lo = (rnd.nextDouble() * maxId).toLong
        Map("kind" -> "range", "lo" -> lo, "hi" -> (lo + 1000 + rnd.nextInt(20000)))
      } else Map("kind" -> "type", "type" -> types(rnd.nextInt(types.length)))
    }
    val r0 = Clock.now()
    val reads = readSpecs.map { spec =>
      val t = Clock.now()
      try {
        val d = Spans(spark, "txtable.read", spec("kind").toString) {
          digest(spec("kind") match {
            case "range" => tx.snapshotRange(spark, "event_id",
              spec("lo").asInstanceOf[Long], spec("hi").asInstanceOf[Long])
            case _ => tx.snapshot(spark).filter(col("event_type") === spec("type").toString)
          })
        }
        spec ++ Map("ms" -> (Clock.now() - t), "got" -> Seq(d._1, d._2, d._3), "ok" -> true)
      } catch {
        case e: Throwable =>
          spec ++ Map("ms" -> (Clock.now() - t), "ok" -> false, "error" -> Tracer.describe(e))
      }
    }
    val readsEnd = Clock.now()
    val codegen1 = Tracer.codegen()

    val progress = Seq("tx_append" -> txQuery, "meta" -> metaQuery).map { case (n, q) =>
      Map("name" -> n, "id" -> q.id.toString,
        "progress" -> q.recentProgress.toSeq.map(p => Json.tree(p.json)))
    }
    queries.foreach(_.stop())

    // ---- output checks (untimed) ----
    val snap = tx.snapshot(spark)
    def keyed(df: DataFrame): Array[(Long, Long, String)] =
      df.select(col("event_id"), rowHash(df), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(r => (r._1, r._2))
    val table = keyed(snap)
    val source = keyed(spark.read.parquet(landing))
    val exactlyOnce = table.sameElements(source)
    // Expected read results from the full snapshot, computed driver-side.
    def expected(spec: Map[String, Any]): Seq[Long] = {
      val sel = spec("kind") match {
        case "range" =>
          val (lo, hi) = (spec("lo").asInstanceOf[Long], spec("hi").asInstanceOf[Long])
          table.filter(r => r._1 >= lo && r._1 <= hi)
        case _ => table.filter(_._3 == spec("type"))
      }
      Seq(sel.length.toLong, sel.map(_._1).sum, sel.map(_._2).sum)
    }
    val checkedReads = reads.map { r =>
      val exp = expected(r)
      val dirs = r("kind") match {
        case "range" => tx.resolveDirsRange("event_id",
          r("lo").asInstanceOf[Long], r("hi").asInstanceOf[Long]).size
        case _ => tx.resolveDirs().size
      }
      r ++ Map("expected" -> exp, "dirs_read" -> dirs,
        "match" -> (r("ok") == true && r("got") == exp))
    }
    val metaRows = spark.read.parquet(metaDir)
      .select("event_type", "min_value", "max_value", "n_events").collect()
      .map(_.toSeq.toList).sortBy(_.head.toString).toList
    val batchMeta = spark.read.parquet(landing).groupBy("event_type")
      .agg(min("value"), max("value"), count(lit(1))).collect()
      .map(_.toSeq.toList).sortBy(_.head.toString).toList

    Map("workload" -> "pipeline", "stage_s" -> stageS, "warm_s" -> warmS,
      "interval_ms" -> interval, "timed_start" -> t0, "steady_end" -> steadyEnd,
      "drops" -> landed.asScala.toSeq,
      "backfill" -> Map("start" -> bfStart, "landed" -> bfLanded, "end" -> bfEnd,
        "rows" -> backlog.map(_._2).sum,
        "files" -> backlog.map(b => Paths.get(b._1).getFileName.toString)),
      "reads" -> checkedReads, "reads_start" -> r0, "timed_end" -> readsEnd,
      "codegen" -> Seq(codegen0, codegen1),
      "commits" -> commits.asScala.toSeq,
      "progress" -> progress,
      "checkpoints" -> Map("tx_append" -> ckTx, "meta" -> ckMeta),
      "checks" -> Map(
        "exactly_once" -> exactlyOnce, "table_rows" -> table.length,
        "source_rows" -> source.length,
        "distinct_ids" -> table.map(_._1).distinct.length,
        "meta_equal" -> (metaRows == batchMeta), "meta_rows" -> metaRows.length,
        "dirs_total" -> tx.resolveDirs().size))
  }
}
