package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.sinks.KvSink
import graft.streaming.{Completeness, JointKpis, PartEvent, StreamingPipeline}
import graft.transform.Kpis
import graft.validate.Rules

/** The paper's event-driven DAG, driven from the program's public calls:
  *
  *  1. `validate` query: file source on the landing directory; per landed
  *     file `Rules.report` + `Rules.passed` with the order and item rules;
  *     accepted files move on to a staging directory.
  *  2. `completeness` query: file source on that directory, redelivery
  *     drop (`StreamingPipeline.dedupStream`), `Completeness.stream`; each
  *     trigger's completed groups are enriched (`Kpis.enrich`) and handed
  *     to the KPI query through a second staging directory — the
  *     reference hands off the same way, through trigger files
  *     (glue_job.py:258-278).
  *  3. `kpi` query: `JointKpis.writerManifested`, one manifest commit of
  *     both KPI tables per trigger.
  *  4. After each KPI commit the pusher reads the touched dates of both
  *     committed tables (`categoryTableManifested`/`dailyTableManifested`
  *     at that version) and writes them to the KV store (`KvSink.write`).
  *
  * A landed file is visible once the push covering its orders completes.
  */
final class Dag(spark: SparkSession, work: String, input: StreamInput, progress: ProgressListener) {
  import spark.implicits._

  val landing: String = Scratch.mkdirs(s"$work/landing")
  val validated: String = Scratch.mkdirs(s"$work/validated")
  val enrichedDir: String = Scratch.mkdirs(s"$work/enriched")
  val kpiRoot: String = s"$work/kpi"
  private val cp = s"$work/checkpoints"
  private val schema: StructType = Gen.wideSchema(spark, Main.sfDir)

  /** landed name → validated file holding its rows */
  val accepted = new ConcurrentHashMap[String, String]()
  val rejected: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** rejected landed name → the rules it broke */
  val rejectReasons = new ConcurrentHashMap[String, String]()
  /** landed name → validate trigger start (epoch ms) */
  val ingestedAtMs = new ConcurrentHashMap[String, Long]()
  /** landed name → System.nanoTime when landed / when visible */
  val landedAt = new ConcurrentHashMap[String, Long]()
  val visibleAt = new ConcurrentHashMap[String, Long]()
  /** enriched file → (landed files covered, order dates touched) */
  private val cover = new ConcurrentHashMap[String, (Seq[String], Seq[java.sql.Date])]()
  @volatile var lastVersion: Long = -1L
  @volatile var groupsEmitted = 0L
  @volatile var enrichedRows = 0L
  @volatile var partitionsTouched = 0L
  @volatile var failures = 0L
  private val commits = new LinkedBlockingQueue[StreamingQueryProgress]()
  private var queries = Seq.empty[StreamingQuery]
  private var pusher: Thread = _
  @volatile private var stopping = false

  private def base(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Atomically publish a one-file frame as `<dir>/<name>`. */
  private def publish(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$work/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$dir/$name"), StandardCopyOption.ATOMIC_MOVE)
    Scratch.rm(tmp)
  }

  /** Validate one landed file against the order and item rules. */
  private def validateFile(path: String): Boolean =
    Trace.span("validate", "file", base(path)) {
      val rows = spark.read.schema(schema).parquet(path)
      val report = Rules.report(spark, Seq(
        rows.filter(col("kind") === "order").select(Gen.OrderCols.map(col): _*) -> Gen.OrderRules,
        rows.filter(col("kind") === "item").select(Gen.ItemCols.map(col): _*) -> Gen.ItemRules))
      val passed = Rules.passed(report)
      if (!passed) rejectReasons.put(base(path), report.filter(col("violation_count") > 0)
        .collect().map(r => s"${r.getString(0)}.${r.getString(1)}(${r.getString(2)})=${r.getLong(3)}")
        .mkString(" "))
      passed
    }

  /** One trigger of the validate query: the file source hands over the
    * newly landed rows, whose file names say which files landed; each
    * file is then validated on its own (the reference runs
    * one validation task per landed object, validate.py:249-265), and an
    * accepted file is copied to the staging directory the completeness
    * query reads.
    */
  private def validateBatch(batch: DataFrame, id: Long): Unit = {
    val files = Trace.span("sources", "files", s"v$id") {
      batch.select(input_file_name()).distinct().collect().map(r => new java.net.URI(r.getString(0)).getPath).toSeq
    }
    val triggerMs = System.currentTimeMillis()
    files.foreach(f => ingestedAtMs.putIfAbsent(base(f), triggerMs))
    val verdicts = files.map(f => f -> scala.concurrent.Future(validateFile(f))(Dag.validators))
      .map { case (f, v) => f -> scala.concurrent.Await.result(v, scala.concurrent.duration.Duration.Inf) }
    verdicts.foreach { case (f, ok) =>
      if (ok) {
        Trace.span("sources", "stage", base(f)) {
          val tmp = Paths.get(s"$validated/.${base(f)}")
          Files.copy(Paths.get(f), tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, Paths.get(s"$validated/${base(f)}"), StandardCopyOption.ATOMIC_MOVE)
        }
        accepted.put(base(f), s"$validated/${base(f)}")
      } else rejected.add(base(f))
    }
  }

  private def handoff(batch: Dataset[graft.streaming.CompletedGroup], id: Long): Unit = {
    val ids = Trace.span("streaming", "completed", s"c$id") {
      batch.select("orderId").as[String].collect().map(_.toLong)
    }
    if (ids.nonEmpty) {
      groupsEmitted += ids.length
      val landed = ids.flatMap(o => input.orderFiles.getOrElse(o, Nil)).distinct.toSeq
      val sources = landed.flatMap(n => Option(accepted.get(n))).distinct
      val dates = ids.flatMap(input.orderDate.get).distinct.toSeq
      val name = f"e$id%05d.parquet"
      Trace.span("transform", "enrich", s"c$id") {
        val rows = StreamingPipeline.dedupStream(
          spark.read.schema(schema).parquet(sources: _*)
            .join(broadcast(ids.toSeq.toDF("order_key")), "order_key"),
          Gen.Keys).persist()
        try {
          val enriched = Kpis.enrich(Dag.orders(rows), Dag.items(rows), Dag.products(rows))
            .select(Dag.EnrichedCols.map(col): _*)
          publish(enriched, enrichedDir, name)
          if (Trace.on) enrichedRows += spark.read.parquet(s"$enrichedDir/$name").count()
        } finally rows.unpersist()
      }
      cover.put(name, (landed, dates))
    }
  }

  def start(): Unit = {
    Dag.validators
    val validateFn: (DataFrame, Long) => Unit = validateBatch
    val handoffFn: (Dataset[graft.streaming.CompletedGroup], Long) => Unit = handoff
    val v = StreamingPipeline.fileStream(spark, schema, landing)
      .writeStream.queryName("validate")
      .option("checkpointLocation", s"$cp/validate")
      .foreachBatch(validateFn)
      .start()
    val deduped = StreamingPipeline.dedupStream(
      StreamingPipeline.fileStream(spark, schema, validated), Gen.Keys)
    val events = deduped.select(
      col("order_key").cast("string").as("orderId"),
      col("kind"),
      when(col("kind") === Completeness.KindItem, col("l_partkey"))
        .when(col("kind") === Completeness.KindProduct, col("p_partkey"))
        .cast("string").as("productId")).as[PartEvent]
    val c = Completeness.stream(events)
      .writeStream.queryName("completeness").outputMode("append")
      .option("checkpointLocation", s"$cp/completeness")
      .foreachBatch(handoffFn)
      .start()
    val enrichedSchema = Dag.enrichedSchema(spark)
    val k = JointKpis.writerManifested(
        StreamingPipeline.fileStream(spark, enrichedSchema, enrichedDir), kpiRoot, s"$cp/kpi")
      .queryName("kpi").start()
    queries = Seq(v, c, k)
    progress.onProgress = p => if (p.name == "kpi" && p.numInputRows > 0) commits.put(p)
    pusher = new Thread(() => pushLoop(), "kv-pusher")
    pusher.setDaemon(true)
    pusher.start()
  }

  /** Enriched files of one KPI trigger, from the file source's log. */
  private def enrichedFilesOf(p: StreamingQueryProgress): Seq[String] = {
    def off(json: String): Long =
      Option(json).flatMap(j => "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(j))
        .map(_.group(1).toLong).getOrElse(-1L)
    val src = p.sources.head
    val (from, to) = (off(src.startOffset) + 1, off(src.endOffset))
    val dir = s"$cp/kpi/sources/0"
    (from to to).flatMap { n =>
      val f = Seq(new File(s"$dir/$n"), new File(s"$dir/$n.compact")).find(_.exists).get
      Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{"))
        .filter(l => ("\"batchId\"\\s*:\\s*" + n + "\\b").r.findFirstIn(l).isDefined)
        .flatMap(l => "\"path\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(l).map(m => base(m.group(1))))
    }.distinct
  }

  private def pushLoop(): Unit =
    while (!stopping || !commits.isEmpty) {
      val p = commits.poll(20, TimeUnit.MILLISECONDS)
      if (p != null) try push(p) catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"[perfbench] KV push of batch ${p.batchId} failed: $e")
      }
    }

  private def push(p: StreamingQueryProgress): Unit = {
    val files = enrichedFilesOf(p)
    val covered = files.flatMap(f => Option(cover.get(f)))
    val dates = covered.flatMap(_._2).distinct
    val version = Some(p.batchId)
    Trace.span("sinks", "push", s"k${p.batchId}") {
      if (dates.nonEmpty) {
        KvSink.write(JointKpis.categoryTableManifested(spark, kpiRoot, version)
          .filter(col("order_date").isin(dates: _*)), new BenchKv.TableWriter("category"))
        KvSink.write(JointKpis.dailyTableManifested(spark, kpiRoot, version)
          .filter(col("order_date").isin(dates: _*)), new BenchKv.TableWriter("daily"))
      }
    }
    partitionsTouched += 2L * dates.length
    lastVersion = p.batchId
    val now = System.nanoTime()
    covered.flatMap(_._1).foreach(n => visibleAt.putIfAbsent(n, now))
  }

  /** Land a staged file: stamp its modification time, then rename it into
    * the landing directory in one step.
    */
  def land(l: Landing): Long = {
    val src = Paths.get(s"${input.staged}/${l.name}")
    Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(src, Paths.get(s"$landing/${l.name}"), StandardCopyOption.ATOMIC_MOVE)
    val t = System.nanoTime()
    landedAt.put(l.name, t)
    t
  }

  def queryFailed: Option[Throwable] = queries.flatMap(_.exception).headOption

  /** Block until `name` is visible; false on a query failure or timeout. */
  def awaitVisible(name: String, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!visibleAt.containsKey(name) && !rejected.contains(name) &&
      queryFailed.isEmpty && System.nanoTime() < deadline) Thread.sleep(2)
    visibleAt.containsKey(name)
  }

  /** Process everything landed so far through all three queries and push
    * the last KPI commit. Returns false if a query failed or the pusher
    * did not reach that commit within a minute.
    */
  def drain(): Boolean =
    try {
      queries.foreach(_.processAllAvailable())
      // the KPI query's last committed batch, from its checkpoint's commit log
      val last = Option(new File(s"$cp/kpi/commits").list()).toSeq.flatten
        .flatMap(n => scala.util.Try(n.toLong).toOption).maxOption.getOrElse(-1L)
      val deadline = System.nanoTime() + 60000000000L
      while (lastVersion < last && System.nanoTime() < deadline) Thread.sleep(5)
      lastVersion >= last
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] drain failed: $e")
        false
    }

  def stop(): Unit = {
    stopping = true
    if (pusher != null) pusher.join(30000)
    queries.foreach(q => try q.stop() catch { case _: Throwable => () })
    progress.onProgress = _ => ()
  }

  /** Landed order rows that were accepted, deduplicated — the input the
    * committed tables must equal the batch KPIs of.
    */
  def acceptedRows(): DataFrame = {
    val files = landedAt.keySet.asScala.toSeq.filterNot(rejected.contains)
      .map(n => s"$landing/$n")
    StreamingPipeline.dedupStream(spark.read.schema(schema).parquet(files: _*), Gen.Keys)
  }

  def rejectedOrders(): Set[Long] =
    input.badFile.filter(landedAt.containsKey).toSeq.flatMap { n =>
      spark.read.schema(schema).parquet(s"$landing/$n").filter(col("kind") === "order")
        .select("order_key").as[Long].collect()
    }.toSet
}

object Dag {
  /** Per-file validations of one trigger run side by side, as the
    * reference's per-object validation tasks do. The threads start with
    * the pool (on the caller's thread), so they inherit no streaming
    * query's job properties.
    */
  lazy val validators: scala.concurrent.ExecutionContext = {
    val pool = new java.util.concurrent.ThreadPoolExecutor(2, 2, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "validator"); t.setDaemon(true); t
      })
    pool.prestartAllCoreThreads()
    scala.concurrent.ExecutionContext.fromExecutorService(pool)
  }

  val EnrichedCols = Seq("order_id", "user_id", "product_id", "category", "sale_price",
    "is_returned", "order_date")

  /** Reference-shaped projections of the wide rows (FIXTURES.md §B roles:
    * orders→orders, lineitem→order_items, part→products).
    */
  def orders(rows: DataFrame): DataFrame = rows.filter(col("kind") === "order").select(
    col("o_orderkey").as("order_id"), col("o_custkey").as("user_id"),
    col("o_orderstatus").as("status"), col("o_orderdate").as("created_at"))

  def items(rows: DataFrame): DataFrame = rows.filter(col("kind") === "item").select(
    col("l_orderkey").as("order_id"), col("l_partkey").as("product_id"),
    col("l_linenumber").as("line_number"), col("l_extendedprice").as("sale_price"),
    col("l_quantity").as("quantity"), (col("l_returnflag") === "R").as("is_returned"))

  def products(rows: DataFrame): DataFrame = rows.filter(col("kind") === "product").select(
    col("p_partkey").as("id"), col("p_type").as("category"), col("p_name").as("name"),
    col("p_brand").as("brand"), col("p_retailprice").as("retail_price"))
    .dropDuplicates("id")

  def enrichedSchema(spark: SparkSession): StructType = {
    import spark.implicits._
    Seq((1L, 1L, 1L, "c", 1.0, true, java.sql.Date.valueOf("2000-01-01")))
      .toDF(EnrichedCols: _*).schema
  }
}
