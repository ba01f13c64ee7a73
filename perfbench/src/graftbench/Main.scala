package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It measures one workload and writes a raw
  * record (samples, spans, listener data, output digests) as JSON; the
  * metrics and the pass/fail decision are computed from that record by
  * `perfbench/analysis.py`.
  *
  * Usage: graftbench.Main --workload gates|pipeline --seed N
  *   --trace 0|1 --cpus N --data DIR --work DIR --out FILE
  *   [--gates name=family,... --rounds N] [--interval-ms MS]
  * or:    graftbench.Main --workload oracle_sql --gates n1,n2 --out FILE
  */
object Main {
  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  /** Session conf mirrors `graft.Bench`, with every scratch location
    * moved under the run's work dir.
    */
  def buildSession(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.cteRecursionRowLimit", "-1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Build the session `times` times (all but the last are stopped
    * again) and return the last one with every build's seconds. A build
    * counts as done once a small aggregate has run on it.
    */
  def setupSession(cpus: Int, workDir: String, times: Int): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to times).map { i =>
      val t0 = System.nanoTime()
      spark = buildSession(cpus, workDir)
      spark.range(1000000).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < times) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }
    (spark, secs)
  }

  /** Hypervisor steal ticks (/proc/stat cpu line, field 8); -1 if absent. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Fixed single-thread work (100M xorshift steps, registers only):
    * its seconds grow with steal and throttling, so a run taken on a
    * contended machine can be told apart.
    */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 0L) System.err.println("calibration sink")
    dt
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    if (opts("workload") == "oracle_sql") {
      // Oracle SQL of the named gates, for pinning expected digests.
      val names = opts("gates").split(",").toSet
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
        Json.write(graft.SparkEntry.oracleSql.filter(kv => names(kv._1))))
      return
    }
    val workDir = opts("work")
    val cpus = opts("cpus").toInt
    val trace = opts("trace") == "1"
    val steal0 = stealTicks()
    val calib0 = calibrate()
    val (spark, builds) = setupSession(cpus, workDir, times = 3)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val ctx = Ctx(spark, opts("data"), workDir, opts("seed").toLong)
    var record: Map[String, Any] = Map.empty
    var exit = 0
    try {
      record = opts("workload") match {
        case "gates" =>
          val gates = opts("gates").split(",").toSeq.map { g =>
            val Array(n, f) = g.split("=", 2); (n, f)
          }
          Gates.run(ctx, gates, opts("rounds").toInt)
        case "pipeline" => Pipeline.run(ctx, opts("interval-ms").toDouble)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        record = Map("fatal" -> Tracer.describe(e))
        exit = 1
    }
    val traced = tracer.map(_.finish()).getOrElse(Map.empty)
    val calib1 = calibrate()
    val steal1 = stealTicks()
    val full = record ++ Map(
      "session_build_s" -> builds,
      "spans" -> Spans.all(),
      "trace" -> traced,
      "env" -> Map(
        "cpus" -> cpus, "seed" -> ctx.seed,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "calib_s" -> Seq(calib0, calib1),
        "steal_ticks" -> Seq(steal0, steal1)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json.write(full))
    spark.stop()
    sys.exit(exit)
  }
}

final case class Ctx(spark: SparkSession, dataDir: String, workDir: String, seed: Long)
