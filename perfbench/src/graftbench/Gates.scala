package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Closed-loop gate workloads: `SparkEntry.queries` gates run one at a
  * time through the same clean-before-each-run sequence as
  * `graft.Bench`, each materialized to the noop sink.
  */
object Gates {
  type Gate = (SparkSession, String) => DataFrame

  /** `graft.Bench.runOnce`'s cleanup: catalog cache, persistent RDDs
    * (localCheckpoint blocks) and the Ranks registry.
    */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.operators.Ranks.releaseAll()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def lookup(name: String): Gate =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"no gate $name"))

  /** Untimed warm-up and output check: collect the gate's rows once and
    * digest them (see [[Canon]]).
    */
  private def warm(ctx: Ctx, name: String, fn: Gate): Map[String, Any] = {
    clean(ctx.spark)
    val t0 = Clock.now()
    try {
      val (rows, digest) = Spans(ctx.spark, "warm", name) {
        val df = fn(ctx.spark, ctx.dataDir)
        Canon.digest(df.columns.toSeq, df.collect().toSeq)
      }
      Map("gate" -> name, "ms" -> (Clock.now() - t0), "rows" -> rows,
        "digest" -> digest, "ok" -> true)
    } catch {
      case e: Throwable =>
        Map("gate" -> name, "ms" -> (Clock.now() - t0), "ok" -> false,
          "error" -> Tracer.describe(e))
    }
  }

  def run(ctx: Ctx, gates: Seq[(String, String)], rounds: Int): Map[String, Any] = {
    val fns = gates.map { case (n, f) => (n, f, lookup(n)) }
    val w0 = Clock.now()
    val checks = fns.map { case (n, _, fn) => warm(ctx, n, fn) }
    val warmS = (Clock.now() - w0) / 1000.0

    // Timed phase: a fixed number of whole rounds over the list, each
    // in a seeded order, so every run measures the same work.
    val windows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val codegen0 = Tracer.codegen()
    val t0 = Clock.now()
    for (r <- 0 until rounds) {
      val order = new scala.util.Random(ctx.seed * 1000003L + r).shuffle(fns)
      val rs = Clock.now()
      order.foreach { case (n, fam, fn) =>
        clean(ctx.spark)
        val s = Spans.open(s"operators.$fam", n)
        val sc = ctx.spark.sparkContext
        sc.setLocalProperty(Spans.Key, s.id)
        val res = try { noop(fn(ctx.spark, ctx.dataDir)); None }
        catch { case e: Throwable => Some(Tracer.describe(e)) }
        finally sc.setLocalProperty(Spans.Key, null)
        val ms = Spans.close(s, ok = res.isEmpty)
        runs += Map("gate" -> n, "family" -> fam, "round" -> r, "ms" -> ms,
          "ok" -> res.isEmpty, "error" -> res)
      }
      windows += Map("round" -> r, "start" -> rs, "end" -> Clock.now())
    }
    Map("workload" -> "gates", "warm_s" -> warmS, "stage_s" -> 0.0,
      "checks" -> checks, "runs" -> runs.toSeq, "rounds" -> windows.toSeq,
      "timed_start" -> t0, "timed_end" -> Clock.now(),
      "codegen" -> Seq(codegen0, Tracer.codegen()))
  }
}
