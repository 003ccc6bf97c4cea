package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.operators.{Dedup, Grouping, LanguageModel, Pack, Passages, Sampling, SetJoin, Similarity, Skew, Upsert}
import graft.functions.Text
import graft.pipeline.Pipeline
import graft.sources.{Tables, TestdataAdapter}
import graft.transform.Kpis
import graft.validate.{Rules, TableRules}
import graft.EntryFixtures._
import graft.EntryOracles._

/** The Streaming slice of the SparkEntry registry — structured-streaming surfaces drained via AvailableNow.
  * Entries are verbatim from the pre-split SparkEntry (VERDICT r11 #8);
  * SparkEntry merges every slice into the driver-contract maps.
  */
private[graft] object StreamingQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // Model SERVING in Structured Streaming: the classifier trains
    // batch-side (models are batch artifacts), then the same planted
    // corpus replays as a multi-batch file stream and every micro-batch
    // scores through ONE broadcast weight join into the snapshot-isolated
    // upsert store. Answers t_quality_train's oracle verbatim — streaming
    // inference must agree with batch inference exactly.
    "st_quality_score" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val labeled = qualityLabeled(s, dir)
      val model = graft.operators.Classify.train(labeled, "doc_id", "text",
        "label", dim = 1 << 16, iters = 15, lr = 0.8)
      val stage = tmpDir("graft_stqual_in")
      labeled.select("doc_id", "text").write.mode("overwrite").parquet(stage)
      val (out, cp) = (tmpDir("graft_stqual_out"), tmpDir("graft_stqual_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 8).parquet(stage)
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val scored = graft.operators.Classify
            .score(batch, "doc_id", "text", model)
            .select(col("doc_id"), col("predicted"))
          graft.streaming.StreamingPipeline
            .upsertBatchSnapshot(out, Seq("doc_id"))(scored, id)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.StreamingPipeline.readSnapshot(s, out)
        .select("doc_id", "predicted")
    }),

    // STREAMING language-ID serving (the st_quality_score stance for the
    // trained NB model): train once batch-side, then the planted
    // multilingual corpus replays as a multi-batch file stream and every
    // micro-batch scores through LangId.predict — one broadcast delta
    // join, pure integer arithmetic — into the snapshot-isolated upsert
    // store. Streaming inference must agree with batch inference (and
    // the planted truth) exactly.
    "st_lang_id" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val langs = Seq("de", "en", "es", "fr")
      val markers = langs.map(l =>
        (graft.functions.Text.stopwords(l).mkString(" ") + " ") * 3)
      val markerCol = element_at(
        array(markers.map(lit): _*), (col("doc_id") % 4).cast("int") + 1)
      val langCol = element_at(
        array(langs.map(lit): _*), (col("doc_id") % 4).cast("int") + 1)
      val labeled = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" "), markerCol).as("text"),
        langCol.as("lang"))
      val model = graft.operators.LangId.train(labeled, "doc_id", "text",
        "lang", dim = 1 << 12, n = 3)
      val stage = tmpDir("graft_stlid_in")
      labeled.select("doc_id", "text").write.mode("overwrite").parquet(stage)
      val (out, cp) = (tmpDir("graft_stlid_out"), tmpDir("graft_stlid_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 8).parquet(stage)
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val scored = graft.operators.LangId
            .predict(batch, "doc_id", "text", model)
          graft.streaming.StreamingPipeline
            .upsertBatchSnapshot(out, Seq("doc_id"))(scored, id)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.StreamingPipeline.readSnapshot(s, out)
        .select("doc_id", "lang_pred")
    }),

    // STREAMING content-defined-chunk dedup (streaming/CdcStream.scala):
    // three ingest days as one-file-per-trigger micro-batches; each
    // batch chunks through the SAME Dedup.cdcChunks the batch query
    // runs, probes the prior-batch md5 registry, and commits a per-doc
    // (n_chunks, n_dup) report. Day-2 verbatim twins of day-0 docs must
    // report every chunk dup; the oracle replays chunking + first-seen
    // day in SQL.
    "st_cdc_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val days = Seq(
        docs.filter(col("doc_id") < 200),
        docs.filter(col("doc_id") >= 200),
        docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + PlantedOffset).as("doc_id"), col("text")))
      val stage = tmpDir("graft_stcdc_in")
      days.zipWithIndex.foreach { case (d, i) =>
        val sub = s"$stage/d$i"
        d.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
      }
      val (work, cp) = (tmpDir("graft_stcdc_work"), tmpDir("graft_stcdc_cp"))
      val schema = s.read.parquet(s"$stage/d0").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$stage/d*")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch(graft.streaming.CdcStream.chunkAndRegister(work) _)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // all 3 day-batches checkpoint-committed after the drain — fold the
      // chunk registry (the st_wet_ingest_gz stance: the answer must be
      // identical over the compacted store)
      graft.streaming.CdcStream.compact(s, work, upToBatch = 3L)
      graft.streaming.CdcStream.readReport(s, work)
    }),

    // STREAMING exact-substring dedup (streaming/PassageStream.scala):
    // the three ingest days replay as one-file-per-trigger micro-batches
    // (staged with ascending mtimes so file→batch order is
    // deterministic); each batch cleans through the SAME
    // Passages.cleanIncremental the batch query runs — batch/stream
    // parity by construction — against the per-batch-partitioned
    // window-hash registry. Answers dedup_passage_incremental's
    // first-seen-day oracle VERBATIM.
    "st_passage_clean" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val corpus = passageCorpus(s, dir)
      val days = Seq(
        corpus.filter(col("doc_id") < 200),
        corpus.filter(col("doc_id") >= 200 && col("doc_id") < PlantedOffset),
        corpus.filter(col("doc_id") >= PlantedOffset))
      val stage = tmpDir("graft_stpass_in")
      days.zipWithIndex.foreach { case (d, i) =>
        val sub = s"$stage/d$i"
        d.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
      }
      val (work, cp) = (tmpDir("graft_stpass_work"), tmpDir("graft_stpass_cp"))
      val schema = s.read.parquet(s"$stage/d0").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$stage/d*")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch(graft.streaming.PassageStream
          .cleanAndRegister(work, w = 6, minDocs = 2) _)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.PassageStream.readClean(s, work)
    }),
    // STREAMING crawl ingestion (streaming/WetStream.scala): the WET
    // front door drained across 9 file triggers — 8 archive files in
    // file_id order plus a 9th REFETCH file redelivering every
    // doc_id%8==0 record under the same URI. First-seen-wins keeps the
    // original file's parse; the seen/ log proves the refetch was
    // observed (n_seen = 2) before being dropped. The oracle states the
    // closed-form expectation per document.
    "st_wet_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val blobs = graft.operators.Crawl.plantWet(docs, "doc_id", "text")
        .unionByName(graft.operators.Crawl
          .plantWet(docs.filter(col("doc_id") % 8 === 0), "doc_id", "text",
            files = 1)
          .select(lit(8L).as("file_id"), col("wet")))
      val stage = tmpDir("graft_stwet_in")
      stageByFileId(blobs, stage, 0L to 8L)
      val (work, cp) = (tmpDir("graft_stwet_work"), tmpDir("graft_stwet_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.WetStream.writer(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.WetStream.records(s, work)
        .join(graft.streaming.WetStream.sightings(s, work), Seq("uri"))
        .select(col("doc_id"), col("uri"), col("file_id"),
          col("declared_len"), col("body"), col("len_ok"), col("n_seen"))
    }),
    // st_wet_ingest's GZ twin (VERDICT r11 #1/#2): the same 9 triggers
    // shipped as multi-member .wet.gz archives through writerGz (inflate
    // + byte framing behind the codec boundary), then a FULL
    // registry/seen/records compaction before the read — the fold itself
    // sits under the oracle, which is byte-for-byte st_wet_ingest's
    // closed form (ASCII corpus: byte framing invisible, relayout
    // answer-preserving).
    "st_wet_ingest_gz" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val blobs = graft.operators.Crawl
        .plantWetBytes(docs, "doc_id", "text", gzipRecords = true)
        .unionByName(graft.operators.Crawl
          .plantWetBytes(docs.filter(col("doc_id") % 8 === 0), "doc_id",
            "text", files = 1, gzipRecords = true)
          .select(lit(8L).as("file_id"), col("content")))
      val stage = tmpDir("graft_stwetgz_in")
      stageByFileId(blobs, stage, 0L to 8L)
      val (work, cp) = (tmpDir("graft_stwetgz_work"), tmpDir("graft_stwetgz_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.WetStream.writerGz(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // all 9 batches checkpoint-committed after the drain — fold them
      graft.streaming.WetStream.compact(s, work, upToBatch = 9L)
      graft.streaming.WetStream.records(s, work)
        .join(graft.streaming.WetStream.sightings(s, work), Seq("uri"))
        .select(col("doc_id"), col("uri"), col("file_id"),
          col("declared_len"), col("body"), col("len_ok"), col("n_seen"))
    }),
    // ...and the .wet.zst twin (the from-scratch RFC 8878 decoder on the
    // STREAMING path, per-record frames, tolerant codec boundary): the
    // same 9 triggers, the same compaction fold, the same closed form.
"st_wet_ingest_zst" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val blobs = graft.operators.Crawl
        .plantWetBytes(docs, "doc_id", "text", zstRecords = true)
        .unionByName(graft.operators.Crawl
          .plantWetBytes(docs.filter(col("doc_id") % 8 === 0), "doc_id",
            "text", files = 1, zstRecords = true)
          .select(lit(8L).as("file_id"), col("content")))
      val stage = tmpDir("graft_stwetzst_in")
      stageByFileId(blobs, stage, 0L to 8L)
      val (work, cp) = (tmpDir("graft_stwetzst_work"), tmpDir("graft_stwetzst_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.WetStream.writerZst(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // all 9 batches checkpoint-committed after the drain — fold them
      graft.streaming.WetStream.compact(s, work, upToBatch = 9L)
      graft.streaming.WetStream.records(s, work)
        .join(graft.streaming.WetStream.sightings(s, work), Seq("uri"))
        .select(col("doc_id"), col("uri"), col("file_id"),
          col("declared_len"), col("body"), col("len_ok"), col("n_seen"))
    }),
    // The crawl-to-corpus DAG with a STREAMED front door (VERDICT r12
    // #2's second half): the same robots-gated planted pages as
    // pipeline_crawl_corpus, shipped as multi-member .wet.gz archives
    // across 9 file triggers (8 archive files + a 9th refetch file
    // redelivering every doc_id%8==0 record), drained through
    // WetStream.writerGz with a full post-drain compaction, then the
    // identical strip→mirror→curate→pack back half over the ingested
    // store. First-seen-wins drops the refetch, so the multi-trigger
    // replay answers pipeline_crawl_corpus's oracle VERBATIM.
    "st_crawl_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val fetched = crawlFetchedPages(s, dir)
      val blobs = graft.operators.Crawl
        .plantWetBytes(fetched, "doc_id", "html", gzipRecords = true)
        .unionByName(graft.operators.Crawl
          .plantWetBytes(fetched.filter(col("doc_id") % 8 === 0), "doc_id",
            "html", files = 1, gzipRecords = true)
          .select(lit(8L).as("file_id"), col("content")))
      val stage = tmpDir("graft_stcrawl_in")
      stageByFileId(blobs, stage, 0L to 8L)
      val (work, cp) = (tmpDir("graft_stcrawl_work"), tmpDir("graft_stcrawl_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.WetStream.writerGz(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.WetStream.compact(s, work, upToBatch = 9L)
      crawlCurationRun(s, dir, graft.streaming.WetStream.records(s, work))
        .packed
        .select("doc_id", "n_tokens", "start_token", "seq_first",
          "seq_last", "offset_in_seq")
    }),
    // STREAMING frontier maintenance (FrontierStream): two sitemap
    // waves — every domain's month-1 urlset, then a RE-PUBLISH with
    // month-2 lastmods for odd domains — drained exactly-once and
    // compacted; the frontier read resolves max(lastmod) per URL and
    // counts distinct lastmods (freshness churn). The oracle states the
    // closed form: odd domains end fresh at month 2 with n_updates 2.
    "st_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir)
      val wave0 = graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 1)
      val wave1 = graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 2)
        .filter(regexp_extract(col("domain"), "^d([0-9])", 1)
          .cast("int") % 2 === 1)
      val stage = tmpDir("graft_stfr_in")
      Seq(wave0, wave1).zipWithIndex.foreach { case (w, i) =>
        val sub = s"$stage/f$i"
        w.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
      }
      val (work, cp) = (tmpDir("graft_stfr_work"), tmpDir("graft_stfr_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.FrontierStream.writer(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.FrontierStream.compact(s, work, upToBatch = 2L)
      graft.streaming.FrontierStream.frontier(s, work)
    }),

    // ...and the streamed frontier COMPOSED into the authority-weighted
    // scheduler: the same two-wave drain, then latest-wins frontier →
    // robots gate → hub-graph PageRank → priority = rank × staleness
    // slots (asOf past both waves, so odd domains' month-2 refreshes
    // carry LOWER staleness and sink within their domain unless rank
    // compensates — the composition the batch pipeline_fetch_priority
    // proves, now fed by the exactly-once stream).
    "st_fetch_priority" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir)
      val wave0 = graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 1)
      val wave1 = graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 2)
        .filter(regexp_extract(col("domain"), "^d([0-9])", 1)
          .cast("int") % 2 === 1)
      val stage = tmpDir("graft_stfp_in")
      Seq(wave0, wave1).zipWithIndex.foreach { case (w, i) =>
        val sub = s"$stage/f$i"
        w.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
      }
      val (work, cp) = (tmpDir("graft_stfp_work"), tmpDir("graft_stfp_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.FrontierStream.writer(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.FrontierStream.compact(s, work, upToBatch = 2L)
      val frontier = graft.streaming.FrontierStream.frontier(s, work)
        .withColumn("entry_id",
          regexp_extract(col("loc"), "([0-9]+)$", 1).cast("long"))
      val robots = graft.operators.Crawl.plantRobots(docs, "doc_id")
      val gated = graft.operators.Crawl.robotsGate(
          frontier.select(col("entry_id"), col("loc")),
          graft.operators.Crawl.robotsParse(robots),
          idCol = "entry_id", urlCol = "loc")
        .join(frontier.select("entry_id", "lastmod"), Seq("entry_id"))
      val spokes = frontier
        .select(col("entry_id").as("src"),
          (col("entry_id") - col("entry_id") % 100).as("dst"))
        .filter(col("src") =!= col("dst"))
      val edges = spokes.unionByName(
        spokes.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Crawl.fetchPlanPrioritized(gated,
        graft.operators.Crawl.crawlDelays(robots),
        graft.operators.Graph.pageRankFixed(edges, "src", "dst", iters = 3),
        asOf = "2026-03-01")
    }),

    // The MULTI-EPOCH CRAWL LOOP (VERDICT r13 #8): three sitemap waves
    // drain one per trigger — month-1 everywhere, month-2 refreshes on
    // odd domains, month-3 refreshes on d%4==1 domains — and each epoch's
    // recrawl decisions (unseen fetch / stale refetch / fresh skip) are
    // made against the fetch log the EARLIER epochs wrote, then feed the
    // log for the next wave (FrontierStream.loopBatch). Closed form: an
    // entry is fetched once per frontier update (epoch-1 unseen, then
    // stale exactly when its wave refreshed it), so n_fetches = n_updates
    // = 1 + [d odd] + [d%4==1] and last_fetched_at is the deciding
    // epoch's planted stamp.
    "st_recrawl_loop" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir)
      def digit(c: org.apache.spark.sql.Column) =
        regexp_extract(c, "^d([0-9])", 1).cast("int")
      val waves = Seq(
        graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 1),
        graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 2)
          .filter(digit(col("domain")) % 2 === 1),
        graft.operators.Crawl.plantSitemap(docs, "doc_id", month = 3)
          .filter(digit(col("domain")) % 4 === 1))
      val stage = tmpDir("graft_strl_in")
      waves.zipWithIndex.foreach { case (w, i) =>
        val sub = s"$stage/f$i"
        w.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
      }
      val (work, cp) = (tmpDir("graft_strl_work"), tmpDir("graft_strl_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val dates = Seq("2026-01-31", "2026-02-28", "2026-03-31")
      val q = graft.streaming.FrontierStream.loopWriter(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp, b => dates(b.toInt))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.FrontierStream.loopReport(s, work)
    }),

    // ST3 (batch execution): the same flatMapGroupsWithState operator the
    // streaming layer runs, driven by a batch event Dataset built from the
    // tables — orders as header arrivals, lineitem as item arrivals, and
    // product arrivals for even part keys only (so completeness is a real
    // filter, like g_complete_groups).
    "st_completeness" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.{Completeness, PartEvent}
      val header = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("orderId"),
        lit(Completeness.KindOrder).as("kind"),
        lit(null).cast("string").as("productId"))
      val items = Tables.lineitem(s, dir).select(
        col("l_orderkey").cast("string").as("orderId"),
        lit(Completeness.KindItem).as("kind"),
        col("l_partkey").cast("string").as("productId"))
      val prods = Tables.lineitem(s, dir)
        .filter(col("l_partkey") % 2 === 0).select(
          col("l_orderkey").cast("string").as("orderId"),
          lit(Completeness.KindProduct).as("kind"),
          col("l_partkey").cast("string").as("productId"))
      Completeness.stream(header.unionByName(items).unionByName(prods).as[PartEvent])
        .select(col("orderId").as("order_id"),
          array_join(col("productIds"), ",").as("product_ids"))
    }),

    // ST5, exact streaming form of the daily KPIs: the batch execution of
    // the flatMapGroupsWithState operator (graft.streaming.DailyKpis),
    // oracled against the SAME SQL as a2_daily_kpis — per-day id-set state
    // reproduces the exact countDistinct integers, so streaming-exact and
    // batch math cannot drift.
    "st_daily_kpis_exact" -> ((s, dir) =>
      graft.streaming.DailyKpis.stream(enriched(s, dir)).toDF()),

    // Streaming sessionization answering e_sessionize's oracle VERBATIM:
    // events replayed as a multi-batch file stream (maxFilesPerTrigger
    // forces real cross-batch session-state merging), session_window in
    // append mode, finalized sessions landing in the snapshot-isolated
    // key upsert table. Two AvailableNow drains from ONE checkpoint pin
    // the stop/resume story: run 1 ingests every real file (the huge
    // watermark delay means nothing finalizes — arrival order is
    // hash-partitioned, so a smaller delay would drop genuinely-early
    // files as late); run 2 resumes the same state and ships one
    // far-future sentinel event, advancing the watermark past every real
    // session end so the engine's no-data batch flushes them all.
    // Production uses a real delay and flushes continuously — same code.
    // Streaming LM scoring (score-on-ingest): documents replayed as a
    // multi-batch file stream, each micro-batch scored against the FIXED
    // batch-trained unigram model inside foreachBatch — scoring is
    // per-document given the model, so batch-local scoring is exact with
    // NO cross-batch state — and upserted into the snapshot store. The
    // read-back answers t_lm_score's batch oracle VERBATIM, and the
    // scorer is LanguageModel.unigramScore itself, not a streaming copy.
    "st_lm_score" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val model = docs.filter(col("doc_id") % 2 === 0)
      val stage = tmpDir("graft_stlm_in")
      docs.write.mode("overwrite").parquet(stage)
      val (out, cp) = (tmpDir("graft_stlm_out"), tmpDir("graft_stlm_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 8).parquet(stage)
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val scored = LanguageModel.unigramScore(model, batch, "doc_id", "text")
          graft.streaming.StreamingPipeline
            .upsertBatchSnapshot(out, Seq("doc_id"))(scored, id)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.StreamingPipeline.readSnapshot(s, out)
        .select("doc_id", "n_tokens", "avg_logprob", "ppl")
    }),
    // Streaming TF/DF maintenance (streaming/TermStatsStream.scala):
    // documents replayed as a multi-batch file stream; per-term df
    // (stateful distinct → update-mode count) and per-(doc, term) tf
    // drain into two snapshot-isolated upsert stores, and the joined
    // read-back answers t_term_stats's batch oracle VERBATIM. The same
    // dfCounts/tfCounts functions run batch-side in TermStatsStreamSpec,
    // so parity is by construction, not by copy.
    "st_term_stats" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val stage = tmpDir("graft_stterm_in")
      docs.write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val (outTf, cpTf) = (tmpDir("graft_stterm_tf"), tmpDir("graft_stterm_tfcp"))
      val (outDf, cpDf) = (tmpDir("graft_stterm_df"), tmpDir("graft_stterm_dfcp"))
      def drain(transform: DataFrame => DataFrame, keys: Seq[String],
                out: String, cp: String): Unit = {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 8).parquet(stage)
        val q = transform(stream).writeStream.outputMode("update")
          .option("checkpointLocation", cp)
          .foreachBatch(graft.streaming.StreamingPipeline
            .upsertBatchSnapshot(out, keys) _)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain(graft.streaming.TermStatsStream.dfCounts, Seq("term"), outDf, cpDf)
      drain(graft.streaming.TermStatsStream.tfCounts(_, 50L),
        Seq("doc_id", "term"), outTf, cpTf)
      graft.streaming.StreamingPipeline.readSnapshot(s, outTf)
        .join(graft.streaming.StreamingPipeline.readSnapshot(s, outDf), "term")
        .select("doc_id", "term", "tf", "df")
    }),
    "st_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val stage = tmpDir("graft_stsess_in")
      ev.write.mode("overwrite").parquet(stage)
      val maxTs = s.read.parquet(stage).agg(max(col("ts"))).first().getTimestamp(0)
      val (out, cp) = (tmpDir("graft_stsess_out"), tmpDir("graft_stsess_cp"))
      def drain(): Unit = {
        val stream = s.readStream.schema(s.read.parquet(stage).schema)
          .option("maxFilesPerTrigger", 8).parquet(stage)
        val sess = graft.streaming.Windows.sessionizeStream(
          stream, "ts", "user_id", "30 minutes", "3650 days")
        val q = sess.writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch(graft.streaming.StreamingPipeline
            .upsertBatchSnapshot(out, Seq("user_id", "session_start")) _)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()
      // sentinel: one event far enough ahead that watermark (sentinel −
      // delay) clears every real session end; its own session never
      // finalizes and its user id never appears in the output
      import s.implicits._
      Seq((-1L, new java.sql.Timestamp(
        maxTs.getTime + (3651L * 24 * 3600 * 1000))))
        .toDF("user_id", "ts")
        .write.mode("append").parquet(stage)
      drain()
      graft.streaming.StreamingPipeline.readSnapshot(s, out)
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
          col("n_events"))
    }),

    // ST5, second KPI table (VERDICT r04 #1): the daily table of the
    // drained joint KPI stream (the memoized st_joint_daily root — one
    // streaming query commits both tables), compared per day against the
    // exact batch dailyKpis. Revenue and item count are pinned equal; the
    // distinct counts are pinned within 5% (tolerance-oracle pattern, like
    // a8_approx_distinct), which the exact stream meets with zero error.
    // An inner join makes a MISSING day fail the oracle's row-count
    // compare, so silent drops can't pass.
    "st_daily_kpis" -> ((s, dir) => {
      val streamed = graft.streaming.JointKpis.dailyTable(s, jointKpiRoot(s, dir))
        .select(col("order_date"), col("total_orders").as("s_orders"),
          col("total_revenue").as("s_revenue"),
          col("total_items_sold").as("s_items"),
          col("return_rate").as("s_rr"),
          col("unique_customers").as("s_users"))
      Kpis.dailyKpis(enriched(s, dir)).join(streamed, Seq("order_date"))
        .select(col("order_date"),
          (col("s_revenue") === col("total_revenue")).as("revenue_exact"),
          (col("s_items") === col("total_items_sold")).as("items_exact"),
          (abs(col("s_orders") - col("total_orders")) <=
            greatest(lit(1.0), col("total_orders") * 0.05)).as("orders_close"),
          (abs(col("s_users") - col("unique_customers")) <=
            greatest(lit(1.0), col("unique_customers") * 0.05)).as("customers_close"),
          // rate × orders recovers the returned-item count on both sides
          // — a sharper invariant than a tolerance on the ratio itself,
          // which an off-by-one order count on a 2-order day would break
          (abs(col("s_rr") * col("s_orders") -
            col("return_rate") * col("total_orders")) <= lit(0.5))
            .as("returned_count_match"))
    }),
    // Streaming near-duplicate dedup (VERDICT r05 #1): the planted corpus
    // drained through the incremental MinHash/LSH leg
    // (graft.streaming.NearDupStream — per-row signatures, banded
    // candidate state, registry Jaccard verify), then compared against the
    // batch Dedup.dropNearDuplicates on the SAME corpus. bands = 16 (r=1)
    // gives the planted-recall guarantee of dedup_near_recall; the whole
    // corpus drains as one AvailableNow batch, where intra-bucket
    // ascending-id processing matches the batch min-id-canonical
    // convention — so survivors must agree EXACTLY. One row per original:
    // its copy dropped in the stream, and stream/batch membership agreeing
    // for both the original and the copy.
    "st_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val corpus = docsWithPlantedDups(s, dir)
      val stage = tmpDir("graft_stnd_in")
      corpus.write.mode("overwrite").parquet(stage)
      val (work, cp) = (tmpDir("graft_stnd_work"), tmpDir("graft_stnd_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema).parquet(stage)
      val q = graft.streaming.NearDupStream.writer(stream, "doc_id", "text",
        work, cp, threshold = 0.5, bands = 16)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamKept = graft.streaming.NearDupStream.survivors(s, work)
      val batchKept = Dedup.dropNearDuplicates(corpus, "doc_id", "text",
        threshold = 0.5, bands = 16)
      def member(kept: DataFrame, flag: String, shift: Long) =
        kept.select((col("doc_id") - shift).as("doc_id"), lit(true).as(flag))
      Tables.documents(s, dir).select("doc_id")
        .join(member(streamKept, "s_o", 0L), Seq("doc_id"), "left")
        .join(member(batchKept, "b_o", 0L), Seq("doc_id"), "left")
        .join(member(streamKept, "s_c", PlantedOffset), Seq("doc_id"), "left")
        .join(member(batchKept, "b_c", PlantedOffset), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (!coalesce(col("s_c"), lit(false))).as("dropped"),
          ((coalesce(col("s_o"), lit(false)) === coalesce(col("b_o"), lit(false))) &&
            (coalesce(col("s_c"), lit(false)) === coalesce(col("b_c"), lit(false))))
            .as("batch_agree"))
    }),

    // Streaming embedding dedup (streaming/EmbDedupStream.scala): the
    // second modality through the streaming dedup machinery — planted
    // exact copies of vec_id < 50 drained through the sign-bucket
    // candidate state + registry cosine verify. An identical vector
    // shares its original's bucket by construction and verifies at
    // cosine 1.0, so every copy MUST drop and every original MUST
    // survive — structural, independent of how crude the 8-bit blocking
    // is. (At threshold 0.99 the random corpus holds no cross pairs; a
    // planted pair is the only ≥-threshold edge per bucket.)
    // STREAMING ANN index maintenance (streaming/AnnStream.scala —
    // VERDICT r12 #9): the corpus arrives across 5 file triggers (4
    // quarter files + a 5th redelivering every vec_id%4==0 vector);
    // refits fire on the refitEvery=2 cadence (batches 0, 2, 4), frozen
    // assignment covers the others, the redelivery is dropped by the id
    // anti-join. Serving is the batch ivfTopK over the published store —
    // fp-sensitive k-means training, so the query output is the
    // ann_ivf_valid structural contract (rank contiguity, score
    // monotonicity, neighbor uniqueness, corpus provenance) against
    // literal truth.
    "st_ann_topk" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      // persisted around the 5-slice staging loop (the stageByFileId
      // recipe): each filtered write would otherwise re-run the embedding
      // scan+cast projection
      val e = embDouble(s, dir).select(col("vec_id"), col("emb_d").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stage = tmpDir("graft_stann_in")
      try (0L to 4L).foreach { i =>
        val sub = s"$stage/f$i"
        val part = if (i < 4) e.filter(col("vec_id") % 4 === i)
          else e.filter(col("vec_id") % 4 === 0) // redelivery wave
        part.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(java.nio.file.Paths.get(sub))
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
        finally listing.close()
      } finally e.unpersist()
      val (work, cp) = (tmpDir("graft_stann_work"), tmpDir("graft_stann_cp"))
      val schema = s.read.parquet(s"$stage/f0").schema
      val q = graft.streaming.AnnStream.writer(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
          work, cp, k = 8, iters = 2, refitEvery = 2)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val queries = embDouble(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
      topkValid(graft.streaming.AnnStream.topK(s, work, queries,
          k = 10, nprobe = 2),
        "q_id", "vec_id", "sim", ascending = false, k = 10,
        embDouble(s, dir).select("vec_id"))
    }),
    "st_emb_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val e = embDouble(s, dir).select(col("vec_id"), col("emb_d"))
      val planted = e.unionByName(e.filter(col("vec_id") < 50).select(
        (col("vec_id") + PlantedOffset).as("vec_id"), col("emb_d")))
      val stage = tmpDir("graft_sted_in")
      planted.write.mode("overwrite").parquet(stage)
      val (work, cp) = (tmpDir("graft_sted_work"), tmpDir("graft_sted_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema).parquet(stage)
      val q = graft.streaming.EmbDedupStream.writer(stream, "vec_id", "emb_d",
        work, cp, threshold = 0.99)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val kept = graft.streaming.EmbDedupStream.survivors(s, work)
      val base = e.filter(col("vec_id") < 50).select(col("vec_id"))
      base
        .join(kept.select(col("vec_id"), lit(true).as("k_o")),
          Seq("vec_id"), "left")
        .join(kept.select((col("vec_id") - PlantedOffset).as("vec_id"),
          lit(true).as("k_c")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("k_o"), lit(false)).as("original_kept"),
          (!coalesce(col("k_c"), lit(false))).as("copy_dropped"))
    }),

    // The bounded-TTL twin (VERDICT r06 #4): the SAME planted corpus
    // through candidatesBounded — watermark + per-bucket event-time TTL,
    // the declared 100 TB default — with every document timestamped inside
    // one 30-minute window so the whole corpus sits within the 24 h
    // horizon. Within-horizon, eviction must be a no-op: the dropped set
    // equals the unbounded leg's, which equals batch. This puts the
    // eviction-capable code path (watermark tagging, null-ts filter, TTL
    // arming) under the driver's oracle, not just TestGroupState units.
    "st_neardup_bounded" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val corpus = docsWithPlantedDups(s, dir).withColumn("ts",
        timestamp_seconds(lit(java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))
          .cast("long") + pmod(col("doc_id"), lit(1800L))))
      val stage = tmpDir("graft_stndb_in")
      corpus.write.mode("overwrite").parquet(stage)
      val (work, cp) = (tmpDir("graft_stndb_work"), tmpDir("graft_stndb_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema).parquet(stage)
      val q = graft.streaming.NearDupStream.writerBounded(stream, "doc_id",
        "text", "ts", watermark = "2 hours", ttlMs = 24L * 3600 * 1000,
        work, cp, threshold = 0.5, bands = 16)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamKept = graft.streaming.NearDupStream.survivors(s, work)
      val batchKept = Dedup.dropNearDuplicates(corpus.drop("ts"), "doc_id",
        "text", threshold = 0.5, bands = 16)
      def member(kept: DataFrame, flag: String, shift: Long) =
        kept.select((col("doc_id") - shift).as("doc_id"), lit(true).as(flag))
      Tables.documents(s, dir).select("doc_id")
        .join(member(streamKept, "s_o", 0L), Seq("doc_id"), "left")
        .join(member(batchKept, "b_o", 0L), Seq("doc_id"), "left")
        .join(member(streamKept, "s_c", PlantedOffset), Seq("doc_id"), "left")
        .join(member(batchKept, "b_c", PlantedOffset), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (!coalesce(col("s_c"), lit(false))).as("dropped"),
          ((coalesce(col("s_o"), lit(false)) === coalesce(col("b_o"), lit(false))) &&
            (coalesce(col("s_c"), lit(false)) === coalesce(col("b_c"), lit(false))))
            .as("batch_agree"))
    }),

    // Joint KPI commit (VERDICT r05 #4): ONE streaming query maintains BOTH
    // reference KPI tables in one date-keyed state machine and commits them
    // under a single SnapshotStore pointer per micro-batch (a crash cannot
    // leave the pair at different batch ids; readers are snapshot-isolated,
    // VERDICT r05 #3). Both tables are exact, so each drained table answers
    // the corresponding BATCH oracle verbatim (a1/a2's SQL).
    "st_joint_category" -> ((s, dir) =>
      graft.streaming.JointKpis.categoryTable(s, jointKpiRoot(s, dir))
        .select("category", "order_date", "daily_revenue", "avg_order_value",
          "avg_return_rate")),
    "st_joint_daily" -> ((s, dir) =>
      graft.streaming.JointKpis.dailyTable(s, jointKpiRoot(s, dir))
        .select("order_date", "total_orders", "total_revenue",
          "total_items_sold", "return_rate", "unique_customers")),
    // The fact-grain variant (VERDICT r06 missing #3): the same pair
    // committed through ONE multi-table partition manifest —
    // O(touched order_date partitions) per table under a single pointer —
    // and still answering the batch a1/a2 oracles verbatim.
    "st_jointm_category" -> ((s, dir) =>
      graft.streaming.JointKpis.categoryTableManifested(s,
        jointKpiRootManifested(s, dir))
        .select("category", "order_date", "daily_revenue", "avg_order_value",
          "avg_return_rate")),
    "st_jointm_daily" -> ((s, dir) =>
      graft.streaming.JointKpis.dailyTableManifested(s,
        jointKpiRootManifested(s, dir))
        .select("order_date", "total_orders", "total_revenue",
          "total_items_sold", "return_rate", "unique_customers")),
    // STREAMING drift monitor: the mutated price stream replays in
    // micro-batches; an update-mode per-value count aggregation drains
    // cumulative counts into the snapshot upsert store (the st_term_stats
    // convergence argument: last-wins keyed upserts of cumulative counts
    // equal the batch counts once drained), and the final KS reads the
    // STORE against the reference — answering a21_ks_drift's oracle
    // verbatim. The monitor a 100 TB ingest actually runs: per-trigger
    // cost is the batch's count delta, the KS itself is O(distinct
    // values) whenever probed.
    "st_drift" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val o = Tables.orders(s, dir)
      val mutated = o.select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      val stage = tmpDir("graft_stdrift_in")
      mutated.write.mode("overwrite").parquet(stage)
      val (out, cp) = (tmpDir("graft_stdrift_out"), tmpDir("graft_stdrift_cp"))
      val stream = s.readStream.schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 8).parquet(stage)
      val counts = stream
        .select(col("o_totalprice").as("v")).filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val q = counts.writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch(graft.streaming.StreamingPipeline
          .upsertBatchSnapshot(out, Seq("v")) _)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val after = graft.streaming.StreamingPipeline.readSnapshot(s, out)
      val before = o.select(col("o_totalprice").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      graft.operators.Profiling.ksDriftFromCounts(before, after, "v", "cnt")
    }),
    // STREAMING end-to-end curation (streaming/CurateStream.scala): the
    // same planted corpus replays as three ascending ingest days; every
    // trigger gates (dedup-registry anti-join + quality + language) and
    // republishes the whole-corpus artifacts (ppl gate, mixture, packing)
    // from the drained cumulative state through one atomic snapshot
    // commit. The drained layout and funnel report answer
    // pipeline_curate's / pipeline_curate_report's oracles VERBATIM —
    // batch/stream parity for the entire curation DAG.
    "st_curate" -> ((s, dir) =>
      graft.streaming.CurateStream.readPacked(s, curateStreamRoot(s, dir))
        .select("doc_id", "n_tokens", "start_token", "seq_first",
          "seq_last", "offset_in_seq")),
    "st_curate_report" -> ((s, dir) =>
      graft.streaming.CurateStream.readReport(s, curateStreamRoot(s, dir))),
    // SCHEMA EVOLUTION ACROSS STREAM RESTARTS — the form a live pipeline
    // actually meets (the reference's producers evolve, its Delta sink
    // autoMerges): era 1 drains a narrow producer into the evolving
    // snapshot sink and stops; the producer starts emitting a NEW column;
    // era 2 RESTARTS on the same checkpoint with the widened schema,
    // processes only the new files, and the store unions the column in —
    // no rewrite, no downtime, old rows read null. Batch ids continue
    // across the restart, so the sink's replay gate keeps working.
    "st_evolve" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val t = Tables.orders(s, dir)
      val stage = tmpDir("graft_stevo_in")
      val (store, cp) = (tmpDir("graft_stevo_out"), tmpDir("graft_stevo_cp"))
      def drain(schema: String): Unit = {
        val q = s.readStream.schema(schema).parquet(s"$stage/era*")
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .foreachBatch(graft.streaming.StreamingPipeline.upsertBatchSnapshot(
            store, Seq("o_orderkey"), mergeSchema = true) _)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      t.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/era1")
      drain("o_orderkey LONG, prio STRING")
      t.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          concat(lit("u:"), col("o_orderpriority")).as("prio"),
          col("o_totalprice").as("bonus"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/era2")
      drain("o_orderkey LONG, prio STRING, bonus DOUBLE")
      graft.streaming.StreamingPipeline.readSnapshot(s, store)
        .select("o_orderkey", "prio", "bonus")
    }),
    // The STREAMING SCD2 maintenance operator (streaming/Scd2Stream)
    // batch-executed over the same collapsed change log: per-key state
    // holds only the open run (O(keys), history-length independent),
    // and the emitted intervals answer e_scd2_history's oracle SQL
    // verbatim — streaming maintenance and the batch build cannot
    // drift. Payload packs (returnflag, linestatus) into one string
    // and unpacks after, keeping the operator schema-free.
    "st_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val events = Tables.lineitem(s, dir)
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(min(col("l_returnflag")).as("rf"), min(col("l_linestatus")).as("ls"))
        .select(col("l_orderkey").cast("long").as("key"),
          col("l_linenumber").cast("long").as("version"),
          concat(col("rf"), lit("|"), col("ls")).as("payload"))
        .as[graft.streaming.ScdEvent]
      graft.streaming.Scd2Stream.runs(events).toDF()
        .select(col("key").as("l_orderkey"), col("effective_from"),
          col("effective_to"), col("is_current"),
          split(col("payload"), "\\|").getItem(0).as("l_returnflag"),
          split(col("payload"), "\\|").getItem(1).as("l_linestatus"))
    }))


  /** The wet-ingest closed form (9 triggers + compaction fold + the
    * doc_id%8==0 redelivery) — shared VERBATIM by the gz and zst ingests:
    * archive compression must be invisible to the answer.
    */
  private val sqlWetIngest: String =
    """SELECT doc_id,
           'https://example.com/d/' || CAST(doc_id AS VARCHAR) AS uri,
           doc_id % 8 AS file_id,
           CAST(len(text) AS BIGINT) AS declared_len,
           text AS body,
           true AS len_ok,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_seen
         FROM documents"""

  val oracleSql: Map[String, String] = Map(

    // streaming inference must agree with batch inference exactly
    "st_quality_score" ->
      "SELECT doc_id, doc_id % 2 = 1 AS predicted FROM documents",
    // the drained NB serving answers the planted truth verbatim
    "st_lang_id" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es' ELSE 'fr'
         END AS lang_pred FROM documents""",
    // the streaming leg's batches ARE the three days (one staged file per
    // trigger, mtime-ordered), so it answers the identical replay
    "st_passage_clean" -> sqlPassageIncrementalOracle,
    // the CDC chunk walk over the 3-day corpus + first-seen-day dup rule
    // (intra-batch repeats are NEW — the registry excludes the current
    // batch), replayed entirely in SQL
    "st_cdc_dedup" ->
      s"""WITH corpus AS (
           SELECT doc_id, text,
             CASE WHEN doc_id < 200 THEN 0
                  WHEN doc_id < 1000000 THEN 1 ELSE 2 END AS day
           FROM (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 1000000 AS doc_id, text FROM documents
                 WHERE doc_id < 50)),
         d AS (SELECT doc_id, day, text, len(text) AS n FROM corpus),
         ${DedupQueries.SqlCdcWalk},
         chunks AS (SELECT ch.doc_id, d.day,
                      md5(substr(d.text, CAST(startpos + 1 AS INTEGER),
                                 CAST(endpos - startpos + 1 AS INTEGER))) AS g5
                    FROM ch JOIN d ON ch.doc_id = d.doc_id),
         fd AS (SELECT g5, MIN(day) AS fd FROM chunks GROUP BY 1)
         SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                CAST(SUM(CASE WHEN f.fd < c.day THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         FROM chunks c JOIN fd f ON c.g5 = f.g5 GROUP BY 1""",
    // streaming near-dup: every planted copy dropped by the drained
    // stream, and stream survivors equal to the batch operator's
    "st_neardup" ->
      "SELECT doc_id, true AS dropped, true AS batch_agree FROM documents",
    // bounded-TTL twin: within-horizon corpus, same planted truth
    "st_neardup_bounded" ->
      "SELECT doc_id, true AS dropped, true AS batch_agree FROM documents",
    // streaming embedding dedup: planted vector copies dropped, originals kept
    "st_emb_dedup" ->
      "SELECT vec_id, true AS original_kept, true AS copy_dropped FROM embeddings WHERE vec_id < 50",
    // the streamed IVF index must serve structurally-valid top-k — the
    // ann_ivf_valid literal truth, now after a multi-trigger drain with
    // refits, frozen assignments, and a dropped redelivery
    "st_ann_topk" ->
      """SELECT vec_id AS q_id, true AS ranks_ok, true AS scores_sorted,
                true AS neighbors_distinct, true AS neighbors_in_corpus
         FROM embeddings WHERE vec_id < 5""",
    // the jointly-committed pair answers the BATCH KPI oracles verbatim
    // (exact state, same math — a1/a2's SQL)
    "st_joint_category" ->
      """SELECT p.p_type AS category,
         CAST(o.o_orderdate AS DATE) AS order_date,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l.l_extendedprice) AS avg_order_value,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS avg_return_rate
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "st_joint_daily" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS order_date,
         COUNT(DISTINCT o.o_orderkey) AS total_orders,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
         COUNT(l.l_partkey) AS total_items_sold,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(DISTINCT o.o_orderkey) AS return_rate,
         COUNT(DISTINCT o.o_custkey) AS unique_customers
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1""",
    // the manifested pair: same math, same oracles (multi-table manifest
    // commit under one pointer)
    "st_jointm_category" ->
      """SELECT p.p_type AS category,
         CAST(o.o_orderdate AS DATE) AS order_date,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l.l_extendedprice) AS avg_order_value,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS avg_return_rate
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "st_jointm_daily" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS order_date,
         COUNT(DISTINCT o.o_orderkey) AS total_orders,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
         COUNT(l.l_partkey) AS total_items_sold,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(DISTINCT o.o_orderkey) AS return_rate,
         COUNT(DISTINCT o.o_custkey) AS unique_customers
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1""",
    // Streaming WET ingestion: after first-seen dedup across the 9
    // triggers the table is exactly one row per document — original
    // file, exact body, framing ok, and the refetched rows seen twice
    "st_wet_ingest" ->
      """SELECT doc_id,
           'https://example.com/d/' || CAST(doc_id AS VARCHAR) AS uri,
           doc_id % 8 AS file_id,
           CAST(len(text) AS BIGINT) AS declared_len,
           text AS body,
           true AS len_ok,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_seen
         FROM documents""",
    // streaming frontier: odd domains re-published at month 2 — fresh
    // lastmod wins, distinct-lastmod churn counted
    "st_frontier" ->
      """WITH dd AS (SELECT DISTINCT doc_id % 8 AS d FROM documents),
         e AS (SELECT d, k FROM dd, unnest(range(0, 3 + d)) AS uk(k))
         SELECT 'd' || CAST(d AS VARCHAR) || '.example.com' AS domain,
           'https://d' || CAST(d AS VARCHAR) || '.example.com' ||
           CASE WHEN k % 3 = 0 THEN '/private/ok/s' || CAST(d * 100 + k AS VARCHAR)
                WHEN k % 3 = 1 THEN '/private/s' || CAST(d * 100 + k AS VARCHAR)
                ELSE '/s/' || CAST(d * 100 + k AS VARCHAR) END AS loc,
           '2026-0' || CAST(CASE WHEN d % 2 = 1 THEN 2 ELSE 1 END AS VARCHAR) ||
             '-' || lpad(CAST((d + k) % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
           CAST(CASE WHEN d % 2 = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_updates
         FROM e""",
    // gz + post-drain compaction answers the identical closed form
    "st_wet_ingest_gz" -> sqlWetIngest,
    // ...as does the zstd-framed ingest: compression must be invisible
    "st_wet_ingest_zst" -> sqlWetIngest,
    // the streamed frontier into the authority scheduler: the same
    // fetch-priority replay with the latest-wins lastmod (odd domains
    // refreshed to month 2) and a plan date past both waves
    "st_fetch_priority" -> sqlFetchPrioritySql(
      "'2026-0' || CAST(CASE WHEN d % 2 = 1 THEN 2 ELSE 1 END AS VARCHAR)" +
        " || '-' || lpad(CAST((d + k) % 28 + 1 AS VARCHAR), 2, '0')",
      "2026-03-01"),
    // the crawl-loop closed form: final month fm doubles as the
    // update/fetch count (each refresh is exactly one later refetch),
    // and the last fetch is the deciding epoch's planted stamp
    "st_recrawl_loop" ->
      """WITH dd AS (SELECT DISTINCT doc_id % 8 AS d FROM documents),
         e AS (SELECT d, k FROM dd, unnest(range(0, 3 + d)) AS uk(k)),
         f AS (SELECT d, k,
                 CASE WHEN d % 4 = 1 THEN 3 WHEN d % 2 = 1 THEN 2 ELSE 1 END AS fm
               FROM e)
         SELECT 'd' || CAST(d AS VARCHAR) || '.example.com' AS domain,
           'https://d' || CAST(d AS VARCHAR) || '.example.com' ||
           CASE WHEN k % 3 = 0 THEN '/private/ok/s' || CAST(d * 100 + k AS VARCHAR)
                WHEN k % 3 = 1 THEN '/private/s' || CAST(d * 100 + k AS VARCHAR)
                ELSE '/s/' || CAST(d * 100 + k AS VARCHAR) END AS loc,
           '2026-0' || CAST(fm AS VARCHAR) || '-' ||
             lpad(CAST((d + k) % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
           CAST(fm AS BIGINT) AS n_updates,
           CAST(fm AS BIGINT) AS n_fetches,
           CASE fm WHEN 3 THEN '2026-03-31' WHEN 2 THEN '2026-02-28'
             ELSE '2026-01-31' END AS last_fetched_at
         FROM f""",
    // the streamed crawl front door answers the batch crawl-to-corpus
    // lineage VERBATIM: first-seen-wins drops the trigger-9 refetch and
    // the compaction fold is answer-preserving, so the oracle is
    // pipeline_crawl_corpus's stage-by-stage replay unchanged
    "st_crawl_corpus" ->
      sqlCuratePackedSql(sqlCurateCtesFor(sqlCrawlCorpusCtes, pplCutoff = "61.5")),
    // the streaming drain must answer the batch query verbatim
    "st_term_stats" ->
      s"""$sqlTermStatsCtes
         SELECT tf.doc_id, tf.term, tf.tf, df.df FROM tf JOIN df USING (term)""",
    // the streaming score-on-ingest drain answers the batch query verbatim
    "st_lm_score" ->
      s"""$sqlLmScoreCtes
         SELECT * FROM scored""",
    "st_completeness" ->
      """WITH ok AS (
           SELECT l_orderkey FROM lineitem GROUP BY 1
           HAVING COUNT(*) FILTER (WHERE l_partkey % 2 <> 0) = 0),
         compl AS (SELECT l_orderkey FROM ok WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
         SELECT CAST(l_orderkey AS VARCHAR) AS order_id,
                array_to_string(list_sort(list(DISTINCT CAST(l_partkey AS VARCHAR))), ',') AS product_ids
         FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM compl)
         GROUP BY 1""",
    // the stateful exact-streaming operator answers the BATCH daily-KPI
    // oracle verbatim (same math, different execution)
    "st_daily_kpis_exact" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS order_date,
         COUNT(DISTINCT o.o_orderkey) AS total_orders,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
         COUNT(l.l_partkey) AS total_items_sold,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(DISTINCT o.o_orderkey) AS return_rate,
         COUNT(DISTINCT o.o_custkey) AS unique_customers
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1""",
    // every day present, every comparison flag true — a false or missing
    // row fails the hash/row compare
    "st_daily_kpis" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS order_date,
                true AS revenue_exact, true AS items_exact,
                true AS orders_close, true AS customers_close,
                true AS returned_count_match
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1""",
    // the streaming session store must answer the batch gaps-and-islands
    // sessionization exactly (same SQL as e_sessionize)
    "st_sessionize" ->
      """WITH x AS (SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
               FROM x)
         SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                COUNT(*) AS n_events
         FROM y GROUP BY user_id, sid""",
    // the drained cumulative-count store equals the batch counts, so the
    // streaming monitor answers the batch KS verbatim
    "st_drift" ->
      """WITH av AS (SELECT o_totalprice AS v FROM orders WHERE o_totalprice IS NOT NULL),
         bv AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                       ELSE o_totalprice END AS v
                FROM orders WHERE o_totalprice IS NOT NULL),
         p AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
               FROM (SELECT v, 1 AS ia, 0 AS ib FROM av
                     UNION ALL SELECT v, 0, 1 FROM bv)
               GROUP BY v),
         c AS (SELECT v,
                 SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumA,
                 SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumB
               FROM p),
         t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM p)
         SELECT t.na AS n_before, t.nb AS n_after,
                round(CAST(MAX(abs(cumA * nb - cumB * na)) AS DOUBLE) /
                      CAST(na * nb AS DOUBLE), 6) AS ks_stat
         FROM c CROSS JOIN t GROUP BY t.na, t.nb""",
    "st_curate" -> sqlCuratePackedOracle,
    "st_curate_report" -> sqlCurateReportOracle,
    // the restarted-stream evolution: era-1 MERGE then era-2 MERGE with
    // the new column — same full-outer semantics, null on era-1-only rows
    "st_evolve" ->
      """WITH t AS (SELECT o_orderkey, o_orderpriority AS prio
                    FROM orders WHERE o_orderkey % 3 = 0),
            u AS (SELECT o_orderkey, 'u:' || o_orderpriority AS prio,
                         o_totalprice AS bonus
                  FROM orders WHERE o_orderkey % 2 = 0)
         SELECT
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderkey
                ELSE t.o_orderkey END AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.prio
                ELSE t.prio END AS prio,
           u.bonus AS bonus
         FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey""",
    // the STREAMING maintenance operator answers the batch oracle
    // verbatim (the st_daily_kpis_exact convention)
    "st_scd2_history" -> scd2HistoryOracle)
}
