package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run reports. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ListBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: String, sf: String, cache: String,
                      rate: Option[Double])

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val args: Args, val engine: Option[EngineListener],
                val progress: ProgressListener, val startNs: Long, val result: Result) {
  def work: String = args.work
  def sf: String = args.sf

  /** Ends set-up: records `setup_s` and clears every counter so the
    * measured window starts from zero.
    */
  def endSetup(): Unit = {
    result.e2e("setup_s") = ((System.nanoTime() - startNs) / 1e9, "s")
    Main.log("set-up done")
    engine.foreach(_.reset())
    progress.progress.clear()
    Trace.clear()
    BenchKv.items.set(0)
    BenchKv.chunks.set(0)
  }

  /** Ends the measured work: the output checks that follow add no jobs
    * to the engine counters.
    */
  def endWindow(): Unit = engine.foreach(_.recording = false)
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --sf <dir> --cache <dir> [--cores <k>] [--rate <files/s>]`. Prints one detail
  * line and, last, the result line.
  */
object Main {
  @volatile var sfDir: String = _
  private val bootNs = System.nanoTime()

  /** Progress note on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - bootNs) / 1e9}%7.2f] $msg")

  val ByName: Map[String, Ctx => Unit] = Map(
    "trickle" -> Workloads.trickle _,
    "backfill" -> Workloads.backfill _,
    "late_revisions" -> Workloads.lateRevisions _,
    "operator_mix" -> Workloads.operatorMix _)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("cores", "3").toInt, need("work"), need("sf"), need("cache"),
      m.get("rate").map(_.toDouble))
  }

  /** The one pinned session config of every run. */
  def session(a: Args): SparkSession =
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", Scratch.mkdirs(s"${a.work}/spark-local"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val run = ByName.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    require(Files.isDirectory(java.nio.file.Paths.get(a.sf)), s"no input tables at ${a.sf}")
    sfDir = a.sf
    val spark = session(a)
    log("session started")
    spark.sparkContext.setLogLevel("ERROR")
    Trace.sc = spark.sparkContext
    Trace.on = a.trace
    val engine = if (a.trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val result = new Result
    result.detail("config") = Map(
      "master" -> s"local[${a.cores}]", "shuffle_partitions" -> 3,
      "session_time_zone" -> "UTC", "parquet_nanos_as_long" -> true, "ui" -> false,
      "warehouse_dir" -> "<work>/warehouse", "state_store" -> "HDFSBackedStateStoreProvider",
      "timed_action" -> "write.format(\"noop\")", "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version)
    result.detail("seed") = a.seed
    result.detail("workload") = a.workload
    result.detail("seconds") = a.seconds
    result.detail("trace") = a.trace
    val ctx = new Ctx(spark, a, engine, progress, t0, result)
    run(ctx)
    result.detail("codegen_compilations") =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    log("workload done")
    if (a.trace) Report.layers(ctx)
    val correct = result.problems.isEmpty && result.attempted > 0
    result.detail("problems") = result.problems.toList
    println(Json(Map("detail" -> result.detail)))
    val metrics = (if (a.trace) result.layer else result.e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    println(Json(mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> result.attempted, "failed" -> result.failed, "metrics" -> metrics)))
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(0)
  }
}
