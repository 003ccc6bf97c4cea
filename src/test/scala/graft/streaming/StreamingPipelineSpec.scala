package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.SparkSpec
import graft.transform.Kpis

/** ST1/ST2/ST4/ST5/ST7 end-to-end: file-arrival stream → cumulative KPI
  * aggregation → idempotent upsert sink, with the checkpoint providing
  * exactly-once over files (SURVEY.md §5.4).
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Land a frame as ONE complete parquet file inside `dir` (the file
    * source needs whole files appearing atomically, like S3 uploads).
    */
  private def landFile(df: DataFrame, dir: String, name: String): Unit = {
    val stage = tmp("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(Paths.get(dir))
    Files.move(part, Paths.get(dir, name + ".parquet"))
  }

  private val d1 = java.sql.Date.valueOf("2024-01-01")
  private val d2 = java.sql.Date.valueOf("2024-01-02")

  /** Enriched order-item rows: (order_id, user_id, product_id, category,
    * sale_price, is_returned, order_date) — the KPI writers' input.
    */
  private def enrichedRows(
      rows: Seq[(String, Long, Long, String, Double, Boolean, java.sql.Date)]): DataFrame =
    rows.toDF("order_id", "user_id", "product_id", "category", "sale_price",
      "is_returned", "order_date")

  private type KpiWriter = (DataFrame, String, String) => DataStreamWriter[Row]
  private val manifested: KpiWriter = JointKpis.writerManifested(_, _, _)
  private val wholeTable: KpiWriter = JointKpis.writer(_, _, _)

  /** Drain every file landed in `in` through `writer` (AvailableNow). */
  private def drain(writer: KpiWriter, in: String, root: String, cp: String): Unit =
    writer(spark.readStream.schema(enrichedRows(Seq.empty).schema).parquet(in),
      root, cp).trigger(Trigger.AvailableNow()).start().awaitTermination()

  // (category, day) → (daily_revenue, avg_order_value, avg_return_rate)
  private def kpiMap(df: DataFrame): Map[(String, String), (Double, Double, Double)] =
    df.select("category", "order_date", "daily_revenue", "avg_order_value",
        "avg_return_rate")
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap

  private def dailyMap(df: DataFrame): Map[String, (Long, Double, Long, Double, Long)] =
    df.select("order_date", "total_orders", "total_revenue",
        "total_items_sold", "return_rate", "unique_customers")
      .collect().map(r => r.get(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .toMap

  private def committed(root: String): Option[Long] = {
    val p = new HPath(root)
    graft.state.SnapshotStore.currentVersion(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `order_date=` partition dirs the committed version of a manifested
    * table wrote itself (inherited partitions live in older versions).
    */
  private def writtenDays(root: String, table: String): Set[String] =
    Option(new java.io.File(graft.state.SnapshotStore.versionDir(
        new HPath(root), committed(root).get).toUri.getPath, table).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("order_date=")).toSet

  test("streaming KPIs equal the batch computation and re-draining is a no-op") {
    val (in, root, cp) = (tmp("graft_in"), tmp("graft_out"), tmp("graft_cp"))
    landFile(enrichedRows(Seq(
      ("o1", 1L, 10L, "toys", 10.0, false, d1), ("o1", 1L, 11L, "toys", 30.0, true, d1),
      ("o2", 2L, 10L, "books", 5.0, false, d1))), in, "f1")
    drain(manifested, in, root, cp)

    val after1 = kpiMap(JointKpis.categoryTableManifested(spark, root))
    assert(after1(("toys", "2024-01-01")) == (40.0, 20.0, 0.5))
    assert(after1(("books", "2024-01-01")) == (5.0, 5.0, 0.0))

    // ST2: nothing new → second drain commits nothing and changes nothing
    val v1 = committed(root)
    drain(manifested, in, root, cp)
    assert(committed(root) == v1)
    assert(kpiMap(JointKpis.categoryTableManifested(spark, root)) == after1)

    // ST5: a late file updates the cumulative aggregate for existing keys
    landFile(enrichedRows(Seq(("o3", 3L, 12L, "toys", 60.0, false, d1))), in, "f2")
    drain(manifested, in, root, cp)
    val after2 = kpiMap(JointKpis.categoryTableManifested(spark, root))
    assert(after2(("toys", "2024-01-01")) == (100.0, 100.0 / 3, 1.0 / 3))
    assert(after2(("books", "2024-01-01")) == (5.0, 5.0, 0.0)) // untouched key kept

    // batch parity: the streamed table equals the batch KPI over all files
    assert(after2 == kpiMap(Kpis.categoryKpis(spark.read.parquet(in))))
  }

  test("partitioned KPI writer equals the whole-table writer and the batch result") {
    val in = tmp("graft_pin")
    val (rootP, cpP, rootW, cpW) =
      (tmp("graft_pout"), tmp("graft_pcp"), tmp("graft_wout"), tmp("graft_wcp"))
    landFile(enrichedRows(Seq(
      ("o1", 1L, 10L, "toys", 10.0, false, d1), ("o2", 2L, 11L, "toys", 30.0, true, d2),
      ("o3", 1L, 12L, "books", 5.0, false, d1))), in, "f1")
    drain(manifested, in, rootP, cpP); drain(wholeTable, in, rootW, cpW)
    // the second file touches ONLY d2 — the partitioned writer rewrites
    // that day alone and inherits d1
    landFile(enrichedRows(Seq(("o4", 3L, 10L, "toys", 60.0, false, d2))), in, "f2")
    drain(manifested, in, rootP, cpP); drain(wholeTable, in, rootW, cpW)
    assert(writtenDays(rootP, "category") == Set("order_date=2024-01-02"))
    val batch = kpiMap(Kpis.categoryKpis(spark.read.parquet(in)))
    assert(kpiMap(JointKpis.categoryTableManifested(spark, rootP)) == batch)
    assert(kpiMap(JointKpis.categoryTable(spark, rootW)) == batch)
  }

  test("upsertBatch recovers the table from a backup left by a crashed swap") {
    val out = tmp("graft_recover")
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b1, 0L)
    // simulate a crash between rename(cur, bak) and rename(tmp, cur):
    // the table exists only as _bak_1
    val data = new java.io.File(out, "data")
    assert(data.renameTo(new java.io.File(out, "_bak_1")))
    // next batch must restore the backup and merge against it
    val b2 = Seq((2L, 21.0), (3L, 30.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 2L)
    val table = spark.read.parquet(out + "/data")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(table == Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))
  }

  test("a swap whose rename fails throws and keeps the committed table") {
    // FileSystem.rename reports failure by returning false; the swap shared
    // by upsertBatch and FileState.save must throw before it deletes the
    // backup, which is then the only committed copy
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val b2 = Seq((2L, 21.0), (3L, 30.0)).toDF("k", "v")
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    def throwsOnRename(n: Int)(body: => Unit): Unit = {
      FlakyRenameFs.failOn(n)
      try intercept[java.io.IOException](body) finally FlakyRenameFs.failOn(0)
    }
    // 1: moving the current table aside fails; 2: moving the staged one in
    for (n <- Seq(1, 2)) {
      val out = "flaky://" + tmp("graft_flaky")
      StreamingPipeline.upsertBatch(out, Seq("k"))(b1, 0L)
      throwsOnRename(n)(StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 1L))
      assert(rows(spark.read.parquet(out + "/data")) == rows(b1), s"rename $n")
      // the next batch still merges against the kept table
      StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 2L)
      assert(rows(spark.read.parquet(out + "/data")) ==
        Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))

      val state = "flaky://" + tmp("graft_flaky_state") + "/state.parquet"
      graft.state.FileState.save(Seq("f1", "f2").toDF("path"), state)
      throwsOnRename(n)(graft.state.FileState.save(Seq("f3").toDF("path"), state))
      assert(graft.state.FileState.load(spark, state).as[String].collect().toSet ==
        Set("f1", "f2"), s"state rename $n")
    }
    // restoring a crashed swap's backup is a rename too: a false one must
    // throw, not merge the next batch against an empty table
    val out = "flaky://" + tmp("graft_flaky_restore")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b1, 0L)
    val data = new java.io.File(new HPath(out).toUri.getPath, "data")
    assert(data.renameTo(new java.io.File(data.getParent, "_bak_1")))
    throwsOnRename(1)(StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 2L))
    StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 2L)
    assert(rows(spark.read.parquet(out + "/data")) ==
      Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))
  }

  test("partition-aware upsert rewrites only touched partitions") {
    val out = tmp("graft_pout")
    val sink = StreamingPipeline.upsertPartitionedBatchSnapshot(out, Seq("k"), "day") _
    sink(Seq(("2024-01-01", 1L, 10.0), ("2024-01-02", 2L, 20.0))
      .toDF("day", "k", "v"), 0L)
    // batch 2 touches only 2024-01-01: update k=1, insert k=3
    sink(Seq(("2024-01-01", 1L, 11.0), ("2024-01-01", 3L, 30.0))
      .toDF("day", "k", "v"), 1L)
    val table = StreamingPipeline.readPartitionedSnapshot(spark, out)
      .select("k", "v", "day")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.get(2).toString)).toSet
    assert(table == Set((1L, 11.0, "2024-01-01"), (3L, 30.0, "2024-01-01"),
      (2L, 20.0, "2024-01-02")))
    // the 2024-01-02 partition was not rewritten: version 1 holds only the
    // touched day, and the read resolves 2024-01-02 from version 0's files
    val v1 = new java.io.File(graft.state.SnapshotStore.versionDir(
      new HPath(out), 1L).toUri.getPath)
    assert(v1.listFiles().map(_.getName).filter(_.startsWith("day=")).toSet ==
      Set("day=2024-01-01"))
  }

  // ---- streaming daily KPIs (VERDICT r04 #1: the second KPI table) ----

  test("streaming daily KPIs equal the exact batch computation cumulatively") {
    val (in, root, cp) = (tmp("graft_din"), tmp("graft_dout"), tmp("graft_dcp"))
    landFile(enrichedRows(Seq(
      ("o1", 1L, 10L, "toys", 10.0, false, d1),
      ("o1", 1L, 11L, "toys", 30.0, true, d1),   // same order, second item
      ("o2", 2L, 10L, "toys", 5.0, false, d1),
      ("o3", 1L, 12L, "toys", 7.0, false, d2))), in, "f1")
    drain(wholeTable, in, root, cp)
    assert(dailyMap(JointKpis.dailyTable(spark, root)) ==
      dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))

    // ST5: a late file revises d1 (new order, NEW user) — cumulative
    // aggregates restate, untouched d2 row survives the upsert
    landFile(enrichedRows(Seq(("o4", 3L, 10L, "toys", 20.0, false, d1))), in, "f2")
    drain(wholeTable, in, root, cp)
    val after = dailyMap(JointKpis.dailyTable(spark, root))
    assert(after == dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    assert(after("2024-01-01") == (3L, 65.0, 4L, 1.0 / 3, 3L))
    assert(after("2024-01-02") == (1L, 7.0, 1L, 0.0, 1L))
  }

  test("partitioned daily KPI writer lays the table out by day and matches batch") {
    val (in, root, cp) = (tmp("graft_dpin"), tmp("graft_dpout"), tmp("graft_dpcp"))
    landFile(enrichedRows(Seq(
      ("o1", 1L, 10L, "toys", 10.0, false, d1),
      ("o2", 2L, 11L, "books", 30.0, true, d2))), in, "f1")
    drain(manifested, in, root, cp)
    assert(dailyMap(JointKpis.dailyTableManifested(spark, root)) ==
      dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    assert(writtenDays(root, "daily") ==
      Set("order_date=2024-01-01", "order_date=2024-01-02"))
  }

  test("EXACT streaming daily KPIs equal the batch computation bit-for-bit, cumulatively") {
    val (in, root, cp) = (tmp("graft_ein"), tmp("graft_eout"), tmp("graft_ecp"))
    landFile(enrichedRows(Seq(
      ("o1", 1L, 10L, "toys", 10.0, false, d1),
      ("o1", 1L, 11L, "toys", 30.0, true, d1),
      ("o2", 2L, 10L, "toys", 5.0, false, d1),
      ("o3", 1L, 12L, "toys", 7.0, false, d2))), in, "f1")
    drain(manifested, in, root, cp)
    assert(dailyMap(JointKpis.dailyTableManifested(spark, root)) ==
      dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    // late revision: a new order+user on d1, and a duplicate ORDER id on
    // d2 (distinct must not double count it)
    landFile(enrichedRows(Seq(
      ("o4", 3L, 10L, "toys", 20.0, false, d1),
      ("o3", 1L, 13L, "toys", 2.0, true, d2))), in, "f2")
    drain(manifested, in, root, cp)
    val after = dailyMap(JointKpis.dailyTableManifested(spark, root))
    assert(after == dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    assert(after("2024-01-02") == (1L, 9.0, 2L, 1.0, 1L))
  }

  test("st_daily_kpis registered query: every comparison flag true on testdata") {
    // the oracle shape: the joint writer's drained daily table vs
    // the exact batch dailyKpis — every comparison flag true on every day
    val rows = graft.SparkEntry.queries("st_daily_kpis")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => (1 to 5).forall(r.getBoolean)),
      "a streamed daily KPI diverged from the batch computation")
  }

  test("snapshot streaming writers drain to the same tables as the rename-swap ones") {
    // the three keyed sinks as foreachBatch writers over one stream: the
    // rename-swap upsertBatch, the snapshot upsertBatchSnapshot and the
    // partition-manifest upsertPartitionedBatchSnapshot must commit the
    // same rows
    val dir = "/root/testdata/sf0.001"
    val enr = Kpis.enrich(
      graft.sources.TestdataAdapter.orders(spark, dir),
      graft.sources.TestdataAdapter.orderItems(spark, dir),
      graft.sources.TestdataAdapter.products(spark, dir))
      .select("order_id", "user_id", "product_id", "category", "sale_price",
        "is_returned", "order_date")
    val stage = tmp("graft_snapw_in")
    enr.write.mode("overwrite").parquet(stage)
    def drainTo(agg: DataFrame => DataFrame, sink: (DataFrame, Long) => Unit): Unit =
      agg(spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage))
        .writeStream.outputMode("update")
        .option("checkpointLocation", tmp("graft_snapw_cp"))
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val catKeys = Seq("category", "order_date")
    val (catSwap, catSnap) = (tmp("graft_snapw_cat"), tmp("graft_snapw_cats"))
    drainTo(Kpis.categoryKpis, StreamingPipeline.upsertBatch(catSwap, catKeys))
    drainTo(Kpis.categoryKpis, StreamingPipeline.upsertBatchSnapshot(catSnap, catKeys))
    val catBatch = kpiMap(Kpis.categoryKpis(enr))
    assert(kpiMap(spark.read.parquet(catSwap + "/data")) == catBatch)
    assert(kpiMap(StreamingPipeline.readSnapshot(spark, catSnap)) == catBatch)

    val daily = (df: DataFrame) => DailyKpis.stream(df).toDF()
    val (daySwap, dayPart) = (tmp("graft_snapw_day"), tmp("graft_snapw_dayp"))
    drainTo(daily, StreamingPipeline.upsertBatch(daySwap, Seq("order_date")))
    drainTo(daily, StreamingPipeline.upsertPartitionedBatchSnapshot(
      dayPart, Seq("order_date"), "order_date"))
    val dayBatch = dailyMap(Kpis.dailyKpis(enr))
    assert(dailyMap(spark.read.parquet(daySwap + "/data")) == dayBatch)
    assert(dailyMap(StreamingPipeline.readPartitionedSnapshot(spark, dayPart)) == dayBatch)
  }

  // ---- writer-concurrency fencing (VERDICT r04 #4) ----

  private def writeLock(out: String, pid: Long, host: String, ts: Long): java.io.File = {
    new java.io.File(out).mkdirs()
    val lock = new java.io.File(out, "_writer_lock")
    java.nio.file.Files.writeString(lock.toPath, s"pid=$pid host=$host ts=$ts\n")
    lock
  }

  test("a second concurrent writer fails fast instead of interleaving swaps") {
    val out = tmp("graft_lock1")
    val b = Seq((1L, 10.0)).toDF("k", "v")
    // a LIVE concurrent writer: the lock names this very (alive) process
    val lock = writeLock(out, ProcessHandle.current().pid(),
      java.net.InetAddress.getLocalHost.getHostName, System.currentTimeMillis())
    val e = intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    }
    assert(e.getMessage.contains("another writer"))
    assert(!new java.io.File(out, "data").exists()) // loser wrote nothing
    // same contract on the partition-manifest path
    val bp = Seq(("2024-01-01", 1L, 10.0)).toDF("day", "k", "v")
    intercept[IllegalStateException] {
      StreamingPipeline.upsertPartitionedBatchSnapshot(out, Seq("k"), "day")(bp, 0L)
    }
    lock.delete()
    StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L) // released → proceeds
    assert(spark.read.parquet(out + "/data").count() == 1)
    assert(!new java.io.File(out, "_writer_lock").exists()) // released after the batch
  }

  test("locks from crashed writers are broken: dead pid on this host, stale foreign host") {
    val host = java.net.InetAddress.getLocalHost.getHostName
    val b = Seq((1L, 10.0)).toDF("k", "v")
    // dead-pid lock (pid 2^31-1 exceeds linux pid_max — provably not alive)
    val out1 = tmp("graft_lock2")
    writeLock(out1, Int.MaxValue.toLong, host, System.currentTimeMillis())
    StreamingPipeline.upsertBatch(out1, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out1 + "/data").count() == 1)
    // stale foreign-host lock (older than the 10-minute staleness bound)
    val out2 = tmp("graft_lock3")
    writeLock(out2, 1L, "some-other-host", System.currentTimeMillis() - 11 * 60 * 1000L)
    StreamingPipeline.upsertBatch(out2, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out2 + "/data").count() == 1)
    // fresh foreign-host lock: held — must fail fast
    val out3 = tmp("graft_lock4")
    writeLock(out3, 1L, "some-other-host", System.currentTimeMillis())
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out3, Seq("k"))(b, 0L)
    }
  }

  test("a corrupt (mid-write-crash) lock is broken after the staleness bound") {
    // code-review r5: an unparseable token has no trustworthy host/ts —
    // age falls back to the FILE mtime so the lock isn't unbreakable forever
    val out = tmp("graft_lockc")
    new java.io.File(out).mkdirs()
    val lock = new java.io.File(out, "_writer_lock")
    java.nio.file.Files.writeString(lock.toPath, "pid=123 ho") // truncated
    assert(lock.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    val b = Seq((1L, 10.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out + "/data").count() == 1)
    // a FRESH corrupt lock still blocks (could be a holder mid-write)
    val out2 = tmp("graft_lockc2")
    new java.io.File(out2).mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(out2, "_writer_lock").toPath, "garbage")
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out2, Seq("k"))(b, 0L)
    }
  }

  test("a dead holder's RECYCLED pid is still recognized as dead (start-time check)") {
    // the token records the holder's process start time: same pid number,
    // different start → the recorded holder is gone even though the number
    // is alive. Simulate with our own live pid and an impossible start.
    val out = tmp("graft_lockr")
    new java.io.File(out).mkdirs()
    val host = java.net.InetAddress.getLocalHost.getHostName
    // NOT our pid (liveness of another pid + wrong start = recycled);
    // use pid 1 (init — alive on any linux) with a 1970 start time
    java.nio.file.Files.writeString(
      new java.io.File(out, "_writer_lock").toPath,
      s"pid=1 host=$host ts=${System.currentTimeMillis()} start=1000\n")
    val b = Seq((1L, 10.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out + "/data").count() == 1)
  }

  test("a LIVE same-host holder is never broken by age (long merges stay fenced)") {
    // code-review r5: age is the cross-host signal only — a same-host lock
    // whose pid is alive must hold even past the staleness bound
    val out = tmp("graft_lock5")
    writeLock(out, ProcessHandle.current().pid(),
      java.net.InetAddress.getLocalHost.getHostName,
      System.currentTimeMillis() - 60 * 60 * 1000L) // an hour-old live lock
    val b = Seq((1L, 10.0)).toDF("k", "v")
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    }
  }

  test("release is ownership-verified: a broken-and-replaced lock is not deleted") {
    // code-review r5: if a breaker replaced our lock while the body ran,
    // our release must leave the successor's lock in place
    val root = new org.apache.hadoop.fs.Path(tmp("graft_lock6"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new java.io.File(root.toString, "_writer_lock")
    StreamingPipeline.withWriterLock(fs, root, 1000L) {
      // simulate a concurrent breaker replacing the lock mid-body
      java.nio.file.Files.writeString(lock.toPath,
        "pid=1 host=other ts=0 nonce=successor\n")
    }
    assert(lock.exists(), "successor's lock was deleted by the broken holder")
    assert(java.nio.file.Files.readString(lock.toPath).contains("successor"))
  }

  test("the holder heartbeat refreshes the token so age measures liveness (ADVICE r5)") {
    val root = new org.apache.hadoop.fs.Path(tmp("graft_lockhb"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new java.io.File(root.toString, "_writer_lock")
    def tokenTs(): Long =
      java.nio.file.Files.readString(lock.toPath).split("\\s+")
        .collectFirst { case s if s.startsWith("ts=") => s.drop(3).toLong }.get
    val t0 = System.currentTimeMillis()
    StreamingPipeline.withWriterLock(fs, root, staleMs = 2000L) {
      // body runs longer than staleMs: without the heartbeat the token's
      // ts would age out and a cross-host writer would break a LIVE merge
      Thread.sleep(2600L)
      val ts = tokenTs()
      assert(ts > t0 + 1000L,
        s"token ts was never refreshed during a long merge (ts=$ts, t0=$t0)")
      assert(System.currentTimeMillis() - ts < 2000L,
        "refreshed token is still older than staleMs — heartbeat too slow")
    }
    assert(!lock.exists(), "heartbeat holder failed to release its own lock")
  }

  test("lock staleness is configurable via conf (ADVICE r5)") {
    assert(StreamingPipeline.resolveStaleMs(spark) == StreamingPipeline.LockStaleMs)
    spark.conf.set("spark.graft.writerLock.staleMs", "5000")
    try {
      assert(StreamingPipeline.resolveStaleMs(spark) == 5000L)
      // end-to-end: a foreign-host lock older than the configured bound is
      // broken where the 10-minute default would have blocked
      val out = tmp("graft_lockcfg")
      writeLock(out, 1L, "some-other-host", System.currentTimeMillis() - 60 * 1000L)
      val b = Seq((1L, 10.0)).toDF("k", "v")
      StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
      assert(spark.read.parquet(out + "/data").count() == 1)
    } finally spark.conf.unset("spark.graft.writerLock.staleMs")
  }
}

/** A local filesystem under the `flaky:` scheme whose `rename` returns
  * false on the Nth swap rename after [[FlakyRenameFs.failOn]]`(n)` — the
  * failure `FileSystem.rename` reports without throwing. Renames inside a
  * Spark job's `_temporary` output dirs are not counted.
  */
class FlakyRenameFs extends org.apache.hadoop.fs.FilterFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("flaky:///")
      override def getScheme: String = "flaky"
    }) {
  override def rename(src: HPath, dst: HPath): Boolean =
    if (src.toString.contains("_temporary")) super.rename(src, dst)
    else if (FlakyRenameFs.calls.incrementAndGet() == FlakyRenameFs.failAt) false
    else super.rename(src, dst)
}

object FlakyRenameFs {
  @volatile private var failAt = 0
  private val calls = new java.util.concurrent.atomic.AtomicInteger()
  /** Fail the `n`th swap rename from now on; 0 disarms. */
  def failOn(n: Int): Unit = { calls.set(0); failAt = n }
}
