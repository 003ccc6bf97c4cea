package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline
import graft.sources.{Tables, TestdataAdapter}
import graft.streaming.JointKpis
import graft.transform.Kpis

/** The four workloads. Each stages its input and warms up (set-up), runs
  * the measured window for `--seconds`, then drains and checks outputs.
  */
object Workloads {

  // ---- trickle ----------------------------------------------------------

  /** Landing rate of `trickle`, files/s: below the rate at which the
    * backlog starts to grow on a 4-core box (about 0.4 files/s), so each
    * file's freshness is the pipeline's own latency. `report.py sweep`
    * runs the workload at several rates to find the sustainable one.
    */
  val TrickleRate = 0.3
  val TrickleBandDays = 4
  /** `freshness_tail_s` must stay within this for a rate to be sustainable. */
  val FreshnessLimitS = 10.0

  def trickle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    val rate = ctx.args.rate.getOrElse(TrickleRate)
    val input = Gen.trickle(spark, ctx.sf, ctx.args.cache, Scratch.mkdirs(s"${ctx.work}/staged"), ctx.args.seed,
      TrickleBandDays, warmFiles = 3, rate, ctx.args.seconds)
    Main.log("input staged")
    r.detail("input") = input.manifest
    val dag = new Dag(spark, ctx.work, input, ctx.progress)
    dag.start()
    // warm-up: files one at a time, so the timed files meet warm code
    input.warm.foreach { l =>
      dag.land(l)
      r.check(dag.awaitVisible(l.name, 120), s"warm-up file ${l.name} never became visible")
    }
    ctx.endSetup()

    // open loop: land each file at its due time, whatever the pipeline does
    val t0 = System.nanoTime() + 50000000L
    val due = mutable.LinkedHashMap.empty[String, Long]
    var lagMax = 0
    input.timed.foreach { l =>
      val at = t0 + (l.dueS * 1e9).toLong
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      dag.land(l)
      due(l.name) = at
      lagMax = lagMax.max(dag.landedAt.size - dag.ingestedAtMs.size)
    }
    val end = t0 + ctx.args.seconds * 1000000000L
    while (System.nanoTime() < end) Thread.sleep(5)
    Main.log("window closed")
    val drained = dag.drain()
    ctx.endWindow()
    Main.log("drained")
    val heapMb = Heap.liveMb()
    dag.stop()
    Main.log("stopped")
    r.check(drained, "a streaming query failed")

    // every timed file is an operation; an accepted first landing must
    // become visible, a redelivery or the rejected file must not break it
    val fresh = mutable.ArrayBuffer.empty[(Landing, Double)]
    input.timed.foreach { l =>
      val rejected = dag.rejected.contains(l.name)
      if (l.redelivery || rejected) r.op(drained && (dag.accepted.containsKey(l.name) || rejected))
      else {
        val v = Option(dag.visibleAt.get(l.name))
        r.op(v.isDefined)
        v.foreach(t => fresh += ((l, (t - due(l.name)) / 1e9)))
      }
    }
    r.detail("freshness_by_file") = fresh.sortBy(_._1.dueS).map { case (l, f) => Seq(l.name, l.dueS, f) }
    val xs = fresh.sortBy(_._1.dueS).map(_._2).toSeq
    // the backlog grows when the last third of the files waits clearly
    // longer than the first third
    val third = xs.length / 3
    val growing = third > 0 && xs.takeRight(third).sum / third > 1.5 * xs.take(third).sum / third + 0.5
    val tailOk = Stats.tail(xs).map(_._1).orElse(xs.maxOption).exists(_ <= FreshnessLimitS)
    r.check(xs.nonEmpty, "no timed file became visible")
    if (xs.nonEmpty) r.e2e("latency_p50_s") = (Stats.median(xs), "s")
    r.e2e("peak_heap_mb") = (heapMb, "MB")
    r.detail("rate") = Map("files_per_s" -> rate, "freshness" -> Stats.describe(xs),
      "backlog_growing" -> growing, "sustainable" -> (tailOk && !growing && xs.nonEmpty),
      "freshness_limit_s" -> FreshnessLimitS)
    r.detail("named_metrics") = Map(
      "freshness_p50_s" -> (if (xs.nonEmpty) Some(Stats.median(xs)) else None),
      "freshness_tail" -> Stats.describe(xs),
      "failed_frac" -> r.failed.toDouble / r.attempted.max(1),
      "peak_heap_mb" -> heapMb)
    streamLayers(ctx, dag, input, due.toMap, lagMax)
    checkStream(ctx, dag, input)
    Main.log("checked")
  }

  // ---- late_revisions ---------------------------------------------------

  val LateDatesPerFile = 120
  val LateOrdersPerDate = 2

  def lateRevisions(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    val input = Gen.lateRevisions(spark, ctx.sf, Scratch.mkdirs(s"${ctx.work}/staged"), ctx.args.seed,
      LateDatesPerFile, LateOrdersPerDate, nFiles = 30)
    r.detail("input") = input.manifest
    val dag = new Dag(spark, ctx.work, input, ctx.progress)
    dag.start()
    input.warm.foreach(dag.land)
    input.warm.foreach(l => r.check(dag.awaitVisible(l.name, 120), s"warm-up file ${l.name} never became visible"))
    ctx.endSetup()

    val stopReads = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val readFailures = new java.util.concurrent.atomic.AtomicLong()
    val readFiles = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() => {
      while (!stopReads.get) {
        val t = System.nanoTime()
        try {
          Trace.span("state", "read") {
            val v = dag.lastVersion
            val frames = Seq(JointKpis.categoryTableManifested(spark, dag.kpiRoot),
              JointKpis.dailyTableManifested(spark, dag.kpiRoot)) ++
              (if (v >= 1) Seq(JointKpis.categoryTableManifested(spark, dag.kpiRoot, Some(v - 1)),
                JointKpis.dailyTableManifested(spark, dag.kpiRoot, Some(v - 1))) else Nil)
            if (Trace.on) readFiles.addAndGet(frames.map(_.inputFiles.length.toLong).sum)
            frames.foreach(_.write.format("noop").mode("overwrite").save())
          }
          reads.add((System.nanoTime() - t) / 1e9)
        } catch {
          case e: Throwable =>
            readFailures.incrementAndGet()
            System.err.println(s"[perfbench] snapshot read failed: $e")
        }
      }
    }, "snapshot-reader")
    reader.setDaemon(true)

    // closed loop: the next correction lands once the previous one is visible
    val t0 = System.nanoTime()
    val end = t0 + ctx.args.seconds * 1000000000L
    reader.start()
    val due = mutable.LinkedHashMap.empty[String, Long]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val it = input.timed.iterator
    var ok = true
    while (ok && System.nanoTime() < end && it.hasNext) {
      val l = it.next()
      val at = dag.land(l)
      due(l.name) = at
      ok = dag.awaitVisible(l.name, 90)
      r.op(ok)
      if (ok) fresh += (dag.visibleAt.get(l.name) - at) / 1e9
    }
    r.check(System.nanoTime() >= end, "late_revisions ran out of correction files before the window ended")
    stopReads.set(true)
    reader.join(60000)
    val drained = dag.drain()
    ctx.endWindow()
    val heapMb = Heap.liveMb()
    dag.stop()
    r.check(drained, "a streaming query failed")
    val rs = reads.asScala.toSeq
    rs.foreach(_ => r.op(true))
    (0L until readFailures.get).foreach(_ => r.op(false))
    r.check(fresh.nonEmpty, "no correction file became visible")
    if (fresh.nonEmpty) r.e2e("latency_p50_s") = (Stats.median(fresh.toSeq), "s")
    r.e2e("peak_heap_mb") = (heapMb, "MB")
    r.detail("named_metrics") = Map(
      "freshness_p50_s" -> (if (fresh.nonEmpty) Some(Stats.median(fresh.toSeq)) else None),
      "freshness_tail" -> Stats.describe(fresh.toSeq),
      "read_p50_s" -> (if (rs.nonEmpty) Some(Stats.median(rs)) else None),
      "read_tail" -> Stats.describe(rs),
      "failed_frac" -> r.failed.toDouble / r.attempted.max(1),
      "peak_heap_mb" -> heapMb)
    r.layer("state.read_files") = (readFiles.get.toDouble, "count")
    streamLayers(ctx, dag, input, due.toMap, 0)
    checkStream(ctx, dag, input)
  }

  /** Committed tables equal the batch KPIs of the accepted rows, the KV
    * store equals the committed tables, and no row of the rejected file
    * reaches the staged outputs.
    */
  private def checkStream(ctx: Ctx, dag: Dag, input: StreamInput): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    r.detail("rejected") = dag.rejectReasons.asScala.toMap
    dag.queryFailed.foreach(e => r.check(ok = false, s"streaming query failed: $e"))
    if (dag.lastVersion < 0) { r.check(ok = false, "no KPI commit"); return }
    val rows = dag.acceptedRows()
    val joined = Kpis.enrich(Dag.orders(rows), Dag.items(rows), Dag.products(rows))
    verifyKpis(r, JointKpis.categoryTableManifested(spark, dag.kpiRoot),
      JointKpis.dailyTableManifested(spark, dag.kpiRoot), joined)
    val bad = dag.rejectedOrders()
    r.check(dag.rejected.size == (if (bad.nonEmpty) 1 else 0),
      s"expected exactly the rule-breaking file rejected, got ${dag.rejected.asScala.mkString(",")}")
    if (bad.nonEmpty) {
      r.check(input.badFile.forall(n => !new java.io.File(s"${dag.validated}/$n").exists),
        "the rejected file reached the validated staging directory")
      val leaked = spark.read.parquet(dag.enrichedDir).filter(col("order_id").isin(bad.toSeq: _*)).count()
      r.check(leaked == 0, s"$leaked rows of the rejected file reached the enriched staging directory")
    }
    r.detail("kv_rows") = BenchKv.size
  }

  /** The committed tables equal the batch KPIs of `joined`, and the KV
    * store holds exactly the committed rows.
    */
  private def verifyKpis(r: Result, cat: DataFrame, day: DataFrame, joined: DataFrame): Unit = {
    val wantCat = Kpis.categoryKpis(joined)
    val wantDay = Kpis.dailyKpis(joined)
    val gotCat = Check.collect(cat, wantCat.columns.toSeq)
    val gotDay = Check.collect(day, wantDay.columns.toSeq)
    r.check(Check.sameRows(gotCat, Check.collect(wantCat, wantCat.columns.toSeq)),
      "committed category table differs from Kpis.categoryKpis")
    r.check(Check.sameRows(gotDay, Check.collect(wantDay, wantDay.columns.toSeq)),
      "committed daily table differs from Kpis.dailyKpis")
    Check.kvEqualsTables(gotCat, gotDay).foreach(m => r.check(ok = false, m))
    r.detail("kpi_rows") = Map("category" -> gotCat.rows.size, "daily" -> gotDay.rows.size)
  }

  /** Per-layer metrics of a streaming run (reported on traced runs). */
  private def streamLayers(ctx: Ctx, dag: Dag, input: StreamInput, due: Map[String, Long], lagMax: Int): Unit = {
    val r = ctx.result
    val L = r.layer
    val late = due.flatMap { case (n, d) => Option(dag.landedAt.get(n)).map(t => (t - d) / 1e9) }
    L("gen.late_max_s") = (late.maxOption.getOrElse(0.0).max(0.0), "s")
    L("gen.files_landed") = (due.size.toDouble, "count")
    val vProg = ctx.progress.of("validate").filter(_.numInputRows > 0)
    val cProg = ctx.progress.of("completeness").filter(_.numInputRows > 0)
    val kProg = ctx.progress.of("kpi").filter(_.numInputRows > 0)
    val waits = due.keys.flatMap { n =>
      for (ing <- Option(dag.ingestedAtMs.get(n)); land <- Option(dag.landedAt.get(n)))
        yield ing - (System.currentTimeMillis() - (System.nanoTime() - land) / 1000000)
    }.map(_ / 1000.0)
    L("sources.wait_s") = (if (waits.isEmpty) 0.0 else waits.sum / waits.size, "s")
    L("sources.lag_files_max") = (lagMax.toDouble, "count")
    L("sources.files") = (due.size.toDouble, "count")
    L("sources.rows") = (vProg.map(_.numInputRows).sum.toDouble, "count")
    L("sources.bytes") = (due.keys.map(n => new java.io.File(s"${dag.landing}/$n").length()).sum.toDouble, "bytes")
    L("validate.rows") = (vProg.map(_.numInputRows).sum.toDouble, "count")
    val checked = due.keys.count(n => dag.accepted.containsKey(n) || dag.rejected.contains(n))
    val ok = due.keys.count(dag.accepted.containsKey)
    L("validate.accept_ratio") = (if (checked == 0) 0.0 else ok.toDouble / checked, "ratio")
    def stateOp(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], prefix: String) = {
      val ops = ps.flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains("flatmapgroupswithstate")))
      L(s"$prefix.state_rows") = (ops.lastOption.map(_.numRowsTotal).getOrElse(0L).toDouble, "count")
      L(s"$prefix.state_bytes") = (ops.lastOption.map(_.memoryUsedBytes).getOrElse(0L).toDouble, "bytes")
      L(s"$prefix.update_s") = (ops.map(_.allUpdatesTimeMs).sum / 1000.0, "s")
      L(s"$prefix.commit_s") = (ops.map(_.commitTimeMs).sum / 1000.0, "s")
      ops
    }
    stateOp(cProg, "completeness")
    val cIn = cProg.map(_.numInputRows).sum
    L("completeness.emit_ratio") = (if (cIn == 0) 0.0 else dag.groupsEmitted.toDouble / cIn, "ratio")
    val kOps = stateOp(kProg, "kpi_state")
    L("kpi_state.rows_emitted") = (kOps.map(_.numRowsUpdated).sum.toDouble, "count")
    r.detail("triggers") = Seq("validate" -> vProg, "completeness" -> cProg, "kpi" -> kProg).map { case (n, ps) =>
      n -> Map("n" -> ps.size, "rows" -> ps.map(_.numInputRows).sum,
        "mean_ms" -> Seq("triggerExecution", "addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets")
          .map(k => k -> (if (ps.isEmpty) 0.0 else ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble / ps.size)).toMap)
    }.toMap
    val all = vProg ++ cProg ++ kProg
    def dur(k: String) = if (all.isEmpty) 0.0
      else all.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0 / all.size
    L("trigger.latest_offset_s") = (dur("latestOffset"), "s")
    L("trigger.planning_s") = (dur("queryPlanning"), "s")
    L("trigger.add_batch_s") = (dur("addBatch"), "s")
    L("trigger.wal_commit_s") = (dur("walCommit"), "s")
    L("trigger.input_rows") = (all.map(_.numInputRows).sum.toDouble, "count")
    L("trigger.count") = (all.size.toDouble, "count")
    L("transform.join_rows") = (dag.enrichedRows.toDouble, "count")
    L("state.partitions_touched") = (dag.partitionsTouched.toDouble, "count")
    val fs = new org.apache.hadoop.fs.Path(dag.kpiRoot).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    L("state.versions_live") = (graft.state.ManifestStore.availableVersions(fs,
      new org.apache.hadoop.fs.Path(dag.kpiRoot), "category").size.toDouble, "count")
    val files = Scratch.files(dag.kpiRoot).filter(_.endsWith(".parquet"))
    L("state.files_written") = (files.size.toDouble, "count")
    L("sinks.retries") = (dag.failures.toDouble, "count")
  }

  // ---- backfill ---------------------------------------------------------

  def backfill(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    // the drop: sf0.1's orders, items and products cut at seeded file
    // boundaries (at local[3] one sf0.1 drop takes about 5 s, so a larger
    // tools.ScaleUp copy would leave room for only one drop in the window)
    val drop = Scratch.mkdirs(s"${ctx.work}/drop")
    val rnd = new scala.util.Random(ctx.args.seed)
    val manifest = Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "part" -> "p_partkey").map { case (t, k) =>
      val files = 4 + rnd.nextInt(5)
      val table = Tables.table(spark, ctx.sf, t)
      (if (t == "lineitem") Gen.numbered(table) else table)
        .repartition(files, xxhash64(col(k), lit(ctx.args.seed)))
        .write.mode("overwrite").parquet(s"$drop/$t.parquet")
      val paths = Scratch.files(s"$drop/$t.parquet").filter(_.endsWith(".parquet"))
      Map("table" -> t, "files" -> paths.size, "bytes" -> Scratch.bytes(s"$drop/$t.parquet"),
        "rows" -> paths.map(Gen.rowCount).sum)
    }
    r.detail("input") = manifest
    def once(dir: String, out: String): Double = {
      BenchKv.clear()
      val rules = Seq(Tables.orders(spark, dir) -> Gen.OrderRules,
        Tables.lineitem(spark, dir) -> Gen.ItemRules)
      val t = System.nanoTime()
      val res = Trace.span("pipeline", "run") {
        Pipeline.run(spark, TestdataAdapter.orders(spark, dir), TestdataAdapter.orderItems(spark, dir),
          TestdataAdapter.products(spark, dir), rules)
      }
      r.check(res.passed, s"the drop at $dir failed validation")
      Trace.span("pipeline", "sink") {
        Pipeline.sink(res, s"$out/category", s"$out/daily", Some(new BenchKv.RoutingWriter))
      }
      val s = (System.nanoTime() - t) / 1e9
      spark.catalog.clearCache()
      s
    }
    // two untimed drops warm the code the timed drops run
    for (w <- 0 until 2) {
      once(drop, s"${ctx.work}/warm$w")
      Scratch.rm(s"${ctx.work}/warm$w")
    }
    ctx.endSetup()
    val t0 = System.nanoTime()
    val times = mutable.ArrayBuffer.empty[Double]
    var broken = false
    while (!broken && (times.isEmpty || System.nanoTime() - t0 < ctx.args.seconds * 1000000000L)) {
      try times += once(drop, s"${ctx.work}/out${times.length}") catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] backfill failed: $e")
          broken = true
      }
      r.op(!broken)
      // keep only the latest drop's output
      if (times.length >= 2) Scratch.rm(s"${ctx.work}/out${times.length - 2}")
    }
    ctx.endWindow()
    val heapMb = Heap.liveMb()
    if (times.isEmpty) { r.check(ok = false, "no backfill completed"); return }
    r.e2e("latency_p50_s") = (Stats.median(times.toSeq), "s")
    r.e2e("peak_heap_mb") = (heapMb, "MB")
    r.detail("drops_s") = times.toSeq
    r.detail("named_metrics") = Map("backfill_s" -> Stats.describe(times.toSeq),
      "failed_frac" -> r.failed.toDouble / r.attempted.max(1), "peak_heap_mb" -> heapMb)
    Main.log("window closed")
    // the last drop's committed tables and KV push
    val last = s"${ctx.work}/out${times.length - 1}"
    val joined = Kpis.enrich(TestdataAdapter.orders(spark, drop), TestdataAdapter.orderItems(spark, drop),
      TestdataAdapter.products(spark, drop)).persist()
    verifyKpis(r, spark.read.parquet(s"$last/category/data"), spark.read.parquet(s"$last/daily/data"), joined)
    joined.unpersist()
    r.layer("transform.join_rows") = (spark.read.parquet(s"$drop/lineitem.parquet").count().toDouble, "count")
    r.layer("state.files_written") = (Scratch.files(last).count(_.endsWith(".parquet")).toDouble, "count")
  }

  // ---- operator_mix -----------------------------------------------------

  /** One registered query per non-e-commerce operator family, with the
    * SHA-256 of its sf0.1 output (pinned from a run whose outputs passed
    * tools/check_oracle.py).
    */
  val MixQueries: Seq[(String, String)] = Seq(
    "t_text_stats" -> "169205907aaff356acf668cbaa47a71c75ba0323b651724aa0d11cdfa0d88711",
    "j8_asof" -> "9ccf3e62ce6079366b9fa427c5f1ea1abdf82c136d51e656d79fdb6a6c9e0e46",
    "ann_ivf_kmeans" -> "57541e85554ddc24d76b98fb42b5e594c4034cbdf38841fa7551b69c8e06d071",
    "dedup_exact" -> "36b33650841c51a9a7250d79f893e3ecb3a1c8cf6cc0093286edca41b87fcd10",
    "mm_audio_spectral" -> "5b1fb8239346f77aac2b3dd416e26e4b9b78ababff47d944ddc5eb7a8b885ac2")

  def operatorMix(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    val registry = graft.SparkEntry.queries
    def fresh(): Unit = { graft.util.Caches.clear(); spark.catalog.clearCache() }
    // warm-up pass: every query once, its output hashed against the pin
    val hashes = MixQueries.map { case (q, pinned) =>
      fresh()
      val tq = System.nanoTime()
      val (h, n) = Check.hash(registry(q)(spark, ctx.sf))
      r.check(pinned.isEmpty || h == pinned, s"$q output hash $h differs from the pinned $pinned")
      r.check(pinned.nonEmpty, s"$q has no pinned output hash")
      q -> Map("sha256" -> h, "rows" -> n, "cold_s" -> (System.nanoTime() - tq) / 1e9)
    }
    r.detail("outputs") = hashes.toMap
    // a second, untimed pass through the noop sink finishes the warm-up
    MixQueries.foreach { case (q, _) =>
      fresh()
      registry(q)(spark, ctx.sf).write.format("noop").mode("overwrite").save()
    }
    ctx.endSetup()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    while (passes.isEmpty || System.nanoTime() - t0 < ctx.args.seconds * 1000000000L) {
      var sum = 0.0
      MixQueries.foreach { case (q, _) =>
        fresh()
        val t = System.nanoTime()
        val ok = try {
          Trace.span("operators", q) {
            registry(q)(spark, ctx.sf).write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable => System.err.println(s"[perfbench] $q failed: $e"); false }
        r.op(ok)
        val s = (System.nanoTime() - t) / 1e9
        sum += s
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
      }
      passes += sum
    }
    ctx.endWindow()
    fresh()
    val heapMb = Heap.liveMb()
    // mix_s: the sum of each query's median time, steadier than the
    // median of pass sums when a run holds only a few passes
    val mix = perQuery.values.map(xs => Stats.median(xs.toSeq)).sum
    r.e2e("latency_p50_s") = (mix, "s")
    r.e2e("peak_heap_mb") = (heapMb, "MB")
    r.detail("named_metrics") = Map("mix_s" -> mix, "passes" -> passes.length,
      "failed_frac" -> r.failed.toDouble / r.attempted.max(1), "peak_heap_mb" -> heapMb,
      "per_query_s" -> perQuery.map { case (q, xs) => q -> Stats.median(xs.toSeq) })
    perQuery.foreach { case (q, xs) => r.layer(s"operators.$q.s") = (Stats.median(xs.toSeq), "s") }
    ctx.engine.foreach { e =>
      MixQueries.foreach { case (q, _) =>
        val s = e.get(s"span:$q")
        val n = perQuery.get(q).map(_.length).getOrElse(1).max(1)
        r.layer(s"operators.$q.jobs") = (s.jobs.toDouble / n, "count")
        r.layer(s"operators.$q.shuffle_bytes") = (s.shuffleWriteBytes.toDouble / n, "bytes")
      }
    }
  }
}
