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

/** The SourceEvent slice of the SparkEntry registry — sources/sinks, event transforms, scalar functions, and the validation rule engine.
  * Entries are verbatim from the pre-split SparkEntry (VERDICT r11 #8);
  * SparkEntry merges every slice into the driver-contract maps.
  */
private[graft] object SourceEventQueries {
  private def partitionedUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(s, dir)
    val tmp = tmpDir("graft_pups")
    graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
      tmp, Seq("o_orderkey"), "o_orderstatus")(t, 0L)
    val updates = t.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
      tmp, Seq("o_orderkey"), "o_orderstatus")(updates, 1L)
    graft.streaming.StreamingPipeline.readPartitionedSnapshot(s, tmp)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ---- validation rule engine (§2.7: P3, P5-P9, A6, A7) ----
    "v_rules_orders" -> ((s, dir) =>
      Rules.evaluate(s, Tables.orders(s, dir), cfgOrders)),
    "v_rules_lineitem" -> ((s, dir) =>
      Rules.evaluate(s, Tables.lineitem(s, dir), cfgLineitem)),
    "v_rules_violations" -> ((s, dir) =>
      Rules.evaluate(s, mutatedOrders(s, dir), cfgOrders)),
    // per-group report (validate.py:344-348 shape) over the mutated frame,
    // grouped by customer so groups mix clean and violating rows
    "v_group_report" -> ((s, dir) =>
      Rules.groupReport(
        mutatedOrders(s, dir).withColumn("grp", col("o_orderkey") % 100),
        cfgOrders, "grp")),
    // k-anonymity release gate (Profiling.kAnonymity) over the
    // (lang, source) quasi-identifier: every combination's population
    // and whether it clears k = 10.
    "v_k_anonymity" -> ((s, dir) =>
      graft.operators.Profiling.kAnonymity(
        Tables.documents(s, dir), Seq("lang", "source"), k = 10L)),
    // l-diversity (Profiling.lDiversity): a k-large group whose rows all
    // share one sensitive value still leaks it — per lang group, the
    // population AND the distinct source count, flagged against l = 3.
    "v_l_diversity" -> ((s, dir) =>
      graft.operators.Profiling.lDiversity(
        Tables.documents(s, dir), Seq("lang"), "source", l = 3L)),
    // Sized-output-file write planning (Pack.packSequences under a BYTE
    // budget): bin documents onto ~64 KiB target files in id order —
    // the "write uniformly sized parquet files" layout pass, integer
    // arithmetic end to end.
    "s_file_binpack" -> ((s, dir) =>
      Pack.packSequences(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", budget = 65536L, order = Seq(col("doc_id")))
        .select(col("doc_id"), col("n_chars"),
          col("start_token").as("start_byte"),
          col("seq_first").as("file_first"),
          col("seq_last").as("file_last"),
          col("offset_in_seq").as("offset_in_file"))),

    // ---- events / scalar functions (P2, P10, P11, F2, F3, F5-F9) ----
    "e_parse_props" -> ((s, dir) =>       // F7 from_json
      Tables.events(s, dir).select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))),
    // F7 serialization direction. event_type is coalesced on both sides:
    // Spark's to_json OMITS null struct fields where DuckDB emits
    // "field":null, so nulls must not reach the serializer.
    "e_to_json" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        to_json(struct(col("event_id"),
          coalesce(col("event_type"), lit("")).as("event_type"))).as("payload"))),
    "e_route" -> ((s, dir) =>             // P10/P11/F2/F5 routing predicates
      Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_type").contains("view"), "views")
          .when(col("event_type").contains("click"), "clicks")
          .when(col("event_type").startsWith("purch"), "purchases")
          .when(col("event_type").endsWith("up"), "signups")
          .otherwise("other").as("route"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))),
    "e_daily_value" -> ((s, dir) =>       // F1/F6 + decimal-exact sum
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(Kpis.moneySum(coalesce(col("value"), lit(0.0))).as("total_value"),
          count(lit(1)).as("n_events"))),
    "e_filter_eq" -> ((s, dir) =>         // P2 equality filter via F3 cast
      Tables.events(s, dir)
        .filter(col("user_id").cast("string") === "7")
        .select("event_id", "user_id", "event_type")),
    "f_uuid" -> ((s, dir) =>              // rows-only: F8 uuid() random, F9 now()
      Tables.events(s, dir).select(col("event_id"),
        expr("uuid()").as("run_uuid"),
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss").as("run_ts"))),
    // Structural oracle for F8/F9 (the values are random, their SHAPE is
    // not): every uuid must match the RFC 4122 v4 pattern, all uuids must be
    // distinct, and the ISO timestamp must round-trip through
    // to_timestamp∘date_format unchanged. The oracle pins each count to the
    // table's row count, so a single malformed uuid or timestamp breaks the
    // hash.
    "f_uuid_shape" -> ((s, dir) => {
      val gen = Tables.events(s, dir).select(
        expr("uuid()").as("run_uuid"),
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss").as("run_ts"))
      gen.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("run_uuid").rlike(
          "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"),
          1)).as("n_uuid_v4"),
        countDistinct(col("run_uuid")).as("n_uuid_distinct"),
        count(when(date_format(
          to_timestamp(col("run_ts"), "yyyy-MM-dd'T'HH:mm:ss"),
          "yyyy-MM-dd'T'HH:mm:ss") === col("run_ts"), 1)).as("n_ts_roundtrip"))
    }),

    // S8: KV batch-write sink — write the daily rollup through the chunked
    // sink into the in-memory store, then read the store back as the result
    // (transform.py:226-257 / 376-404: KPI rows → DynamoDB items).
    "s_kv_sink" -> ((s, dir) => {
      import s.implicits._
      val kpis = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(Kpis.moneySum(coalesce(col("value"), lit(0.0))).as("total_value"),
          count(lit(1)).as("n_events"))
        .select(
          concat_ws("|", col("event_type"), date_format(col("day"), "yyyy-MM-dd")).as("pk"),
          col("total_value").cast("string").as("total_value"),
          col("n_events").cast("string").as("n_events"))
      graft.sinks.InMemoryKv.clear()
      graft.sinks.KvSink.write(kpis, graft.sinks.InMemoryKv.writer("pk"),
        keyCol = Some("pk"))
      graft.sinks.InMemoryKv.snapshot
        .map(m => (m("pk"), m("total_value").toDouble, m("n_events").toLong))
        .toDF("pk", "total_value", "n_events")
    }),

    // ---- event-time windows (§7.5 extensions over the events stream) ----
    "e_tumbling" -> ((s, dir) =>
      graft.streaming.Windows.tumbling(
        Tables.events(s, dir), "ts", "event_type", "1 hour", "value")),
    // session bounds as µs-formatted strings: the events table is
    // nanosecond-precision, and a raw-timestamp compare would hinge on the
    // comparator's ns-vs-µs normalization; formatted strings are exact on
    // both engines.
    "e_sliding" -> ((s, dir) =>
      graft.streaming.Windows.sliding(
        Tables.events(s, dir), "ts", "event_type", "1 hour", "30 minutes")),
    // Ordered funnel (operators/Funnel.scala): signup → click →
    // purchase conversion counts; strictly-after semantics on integer
    // epoch micros (raw nanos timestamps floor identically in both
    // engines — last-3-digit comparisons cannot diverge).
    "e_funnel" -> ((s, dir) =>
      graft.operators.Funnel.report(Tables.events(s, dir),
        "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))),
    // LOCF gap-fill resample (Timeseries.resampleLocf): each user's
    // value series on a daily grid; the oracle replays it with an ASOF
    // join over the same deduped samples.
    "e_resample" -> ((s, dir) =>
      graft.operators.Timeseries.resampleLocf(
        Tables.events(s, dir), "user_id", "ts", "value",
        stepMicros = 86400000000L)),
    // Linear-interpolation resample: same grid, each point interpolated
    // between its bracketing samples (exactly the sample when on one);
    // both brackets from running last(ignoreNulls) windows over ONE key
    // exchange, decimal/integer until the single IEEE chain.
    "e_resample_linear" -> ((s, dir) =>
      graft.operators.Timeseries.resampleLinear(
        Tables.events(s, dir), "user_id", "ts", "value",
        stepMicros = 86400000000L)),
    // EWMA (Timeseries.ewma): per-user exponentially weighted level at
    // alpha 0.3 — the sequential recurrence as ONE time-ordered fold per
    // key; the oracle replays the identical fold with list_reduce.
    "e_ewma" -> ((s, dir) =>
      graft.operators.Timeseries.ewma(
        Tables.events(s, dir), "user_id", "ts", "value")),
    // Time-weighted average (operators/Timeseries.scala): per-user mean
    // of `value` weighted by how long each sample held — decimal-exact
    // products/sums, one IEEE division rounded to 6.
    "e_time_weighted" -> ((s, dir) =>
      graft.operators.Timeseries.timeWeightedAvg(
        Tables.events(s, dir), "user_id", "ts", "value")),
    // Cohort retention (Funnel.cohortRetention): first-activity-week
    // cohorts × weekly activity, long form; Monday-aligned weeks make
    // the day-diff div 7 exact in both engines.
    "e_cohorts" -> ((s, dir) =>
      graft.operators.Funnel.cohortRetention(
        Tables.events(s, dir), "user_id", "ts")),
    "e_sessionize" -> ((s, dir) =>
      graft.streaming.Windows.sessionize(
        Tables.events(s, dir), "ts", "user_id", "30 minutes")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
          col("n_events"))),

    // ---- pivot / unpivot (reshaping family) ----
    // fixed value list keeps the pivot one-pass (no values-discovery job)
    // and the output schema static — the 100 TB-safe form
    "e_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types)
        .count()
        // a (day, type) cell with no rows pivots to NULL; the relational
        // answer (and the oracle's FILTER count) is 0
        .select(col("day") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    }),
    "e_unpivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .unpivot(Array(col("day")), "event_type", "n")
        .filter(col("n").isNotNull)),

    // ---- sources / sinks (S1, S3, S5, S6, S9, S10) ----
    "s_csv_roundtrip" -> ((s, dir) => {   // S1 declared-schema CSV + S5 write
      val region = Tables.region(s, dir)
      val tmp = tmpDir("graft_csv_rt")
      region.write.mode("overwrite").option("header", "true").csv(tmp)
      Tables.csv(s, region.schema, tmp)
    }),
    // S1 inference variant (reference glue_job.py:170 pd.read_csv infers
    // types): one extra pass over the data at planning — declared-schema
    // `Tables.csv` stays the scale default.
    "s_csv_inferred" -> ((s, dir) => {
      val region = Tables.region(s, dir)
      val tmp = tmpDir("graft_csv_inf")
      region.write.mode("overwrite").option("header", "true").csv(tmp)
      Tables.csvInferred(s, tmp).select("r_regionkey", "r_name")
    }),
    // Malformed-record tolerance: PERMISSIVE parse with a corrupt-record
    // column — bad rows surface as data instead of failing the job (the
    // reference's pandas read_csv raises and poisons the whole batch).
    // Input is a fixed synthetic file, so the oracle pins exact counts.
    "s_csv_corrupt" -> ((s, dir) => {
      val tmp = tmpDir("graft_csv_bad")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "part.csv"),
        "id,name\n1,a\n2,b\nnot_a_number,c\n3,d\n")
      val schema = StructType(Seq(
        StructField("id", org.apache.spark.sql.types.LongType),
        StructField("name", org.apache.spark.sql.types.StringType),
        StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      val df = s.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(tmp)
      // the scan must read a data column alongside _corrupt_record (Spark
      // rejects corrupt-column-only queries); a malformed row parses its
      // typed columns to null, so count(id) IS the clean count
      df.agg(
        count(col("id")).as("n_clean"),
        count(col("_corrupt_record")).as("n_corrupt"))
    }),
    // Bucketed co-located join (the 100 TB lever for repeatedly-joined fact
    // tables): both sides written bucketed+sorted on the join key, so the
    // join runs with NO Exchange on either side (PartitionPruneSpec asserts
    // the plan; this entry puts the result under the DuckDB oracle).
    "s_bucketed_join" -> ((s, dir) => {
      Tables.writeBucketed(Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice"), 8, "o_orderkey", "graft_bkt_orders")
      Tables.writeBucketed(Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"),
          col("l_extendedprice")), 8, "o_orderkey", "graft_bkt_items")
      s.table("graft_bkt_orders").join(s.table("graft_bkt_items"), "o_orderkey")
    }),
    // Z-order layout (operators/Layout.scala): the Morton interleave of
    // two 10-bit dimension keys, term-replicated in the oracle. The
    // layout pass itself (range exchange + in-partition sort on z) is
    // LayoutSpec-pinned; this query hash-locks the bit arithmetic that
    // decides every file's hypercube.
    "s_zorder" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") % 1024).as("x"),
          (col("o_orderkey") % 1024).as("y"))
        .withColumn("z", graft.operators.Layout.zValue(
          Seq(col("x"), col("y")), 10))
        .select("o_orderkey", "x", "y", "z")),
    // Small-file compaction (Layout.compact): orders scattered into 64
    // files, bin-packed and rewritten in one pass; the read-back must be
    // the exact source table (LayoutSpec pins the file-count collapse and
    // the oversized-file path — here the oracle pins content identity).
    "s_compact" -> ((s, dir) => {
      val scattered = tmpDir("graft_compact_in")
      Tables.orders(s, dir).repartition(64)
        .write.mode("overwrite").parquet(scattered)
      val compacted = tmpDir("graft_compact_out")
      graft.operators.Layout.compact(s, scattered, compacted,
        targetBytes = 16L * 1024 * 1024)
      s.read.parquet(compacted)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
    }),
    // Table OPTIMIZE (Layout.optimize): 64 scattered files rewritten in
    // ONE pass that both compacts (partition count from total bytes /
    // target) and z-orders (custkey, orderkey) — the Delta
    // OPTIMIZE+ZORDER maintenance shape; contents hash-locked against
    // the source, file-count and clustering pinned by LayoutSpec.
    "s_optimize" -> ((s, dir) => {
      val scattered = tmpDir("graft_opt_in")
      Tables.orders(s, dir).repartition(64)
        .write.mode("overwrite").parquet(scattered)
      val out = tmpDir("graft_opt_out")
      graft.operators.Layout.optimize(s, scattered, out,
        zcols = Seq("o_custkey", "o_orderkey"), bits = 16,
        targetBytes = 16L * 1024 * 1024,
        statCols = Seq("o_custkey"))
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
    }),
    // Dictionary label encoding (operators/Indexer.scala): the
    // frequency-DESC StringIndexer mapping joined back broadcast — the
    // fact table never reshuffles; the whole encoded table hash-compares
    // against the window replay.
    "e_string_index" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val mapping = graft.operators.Indexer.labelIndex(orders, "o_orderpriority")
      graft.operators.Indexer.encode(orders, "o_orderpriority", mapping, "prio_idx")
        .select(col("o_orderkey"), col("o_orderpriority"), col("prio_idx"))
    }),
    // File-stats data skipping (operators/Layout.scala) end-to-end over
    // the z-order layout it exists for: write orders z-ordered on
    // (custkey, orderkey), collect the per-file min/max index in one
    // aggregation, then answer a custkey range by reading ONLY the
    // files whose range intersects (LayoutSpec pins the pruning — ≤3 of
    // 10 files touched; this query hash-locks the exactness of the
    // pruned read against a full-scan oracle).
    "s_data_skipping" -> ((s, dir) => {
      val tmp = tmpDir("graft_skip")
      graft.operators.Layout.zorder(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq(col("o_custkey"), col("o_orderkey")), 16, numPartitions = 8)
        .write.mode("overwrite").parquet(tmp)
      val stats = graft.operators.Layout.fileStats(s, tmp, Seq("o_custkey"))
      graft.operators.Layout.skippingRead(s, tmp, stats, "o_custkey",
          lit(100L), lit(400L))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),
    "s_partitioned_roundtrip" -> ((s, dir) => { // S6 partitioned overwrite
      val tmp = tmpDir("graft_part_rt")
      Tables.writePartitioned(Tables.orders(s, dir), "o_orderstatus", tmp)
      s.read.parquet(tmp).select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
    }),
    // The partition-aware upsert under the oracle (one body, both oracled
    // names): seed a status-partitioned table through the
    // partition-manifest snapshot sink, merge an update batch (every 7th
    // order's price doubled — it touches only the partitions its updates
    // live in; the other status partitions are inherited by manifest
    // reference), read the table back.
    "s_partitioned_upsert" -> (partitionedUpsert _),
    "s_partitioned_upsert_snapshot" -> (partitionedUpsert _),
    // SCHEMA EVOLUTION ON WRITE (Upsert.upsertEvolve through the
    // partition-manifest sink — the reference's Delta MERGE autoMerge,
    // transform.py:331-339): batch 1 carries a NEVER-SEEN `note` column
    // and touches only the URGENT/HIGH priority partitions; the other
    // priorities are inherited by manifest reference with their
    // pre-evolution files and must read the new column as null. The
    // whole full-outer+coalesce+null-fill surface replays in DuckDB.
    "s_evolve_upsert" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
      val tmp = tmpDir("graft_evolve")
      val sink = graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
        tmp, Seq("o_orderkey"), "o_orderpriority", mergeSchema = true) _
      sink(t.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice", "o_orderpriority"), 0L)
      sink(t.filter(col("o_orderkey") % 2 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderpriority"),
          concat(lit("c"), (col("o_orderkey") % 5).cast("string")).as("note")),
        1L)
      graft.streaming.StreamingPipeline.readPartitionedSnapshot(s, tmp)
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "note")
    }),
    // ... and the pinning half of the contract: AFTER the evolving commit,
    // versionAsOf = 0 still reads the pre-evolution schema and rows —
    // time travel is pinned to each version's own committed schema file.
    "s_evolve_timetravel" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
      val tmp = tmpDir("graft_evolve_tt")
      val sink = graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
        tmp, Seq("o_orderkey"), "o_orderpriority", mergeSchema = true) _
      sink(t.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice", "o_orderpriority"), 0L)
      sink(t.filter(col("o_orderkey") % 2 === 0 &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderpriority"),
          concat(lit("c"), (col("o_orderkey") % 5).cast("string")).as("note")),
        1L)
      graft.streaming.StreamingPipeline.readPartitionedSnapshot(s, tmp, Some(0L))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    }),

    // Keyed DELETE on the manifest store (ManifestStore.deletePartitioned
    // — the reference's Delta MERGE DELETE leg): commit orders, delete
    // every 5th key plus one whole status partition's rows ("P" has few
    // orders — exercises the emptied-partition manifest drop), read the
    // survivors back. The oracle replays the delete as an anti-filter on
    // the raw table, so a resurrected partition, a missed key, or an
    // over-delete all hash-fail.
    "s_partitioned_delete" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
      val tmp = tmpDir("graft_pdel")
      graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
        tmp, Seq("o_orderkey"), "o_orderstatus")(t, 0L)
      val doomed = t.filter(col("o_orderkey") % 5 === 0 ||
          col("o_orderstatus") === "P")
        .select("o_orderkey", "o_orderstatus")
      graft.state.ManifestStore.deletePartitioned(s,
        new org.apache.hadoop.fs.Path(tmp), 1L, doomed,
        Seq("o_orderkey"), "o_orderstatus")
      graft.streaming.StreamingPipeline.readPartitionedSnapshot(s, tmp)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    }),

    // Time travel under the oracle (VERDICT r06 missing #1): the same
    // two-batch manifest upsert, then BOTH epochs read back — versionAsOf 0
    // must still show the pre-upsert prices while the current epoch shows
    // the doubled ones. DuckDB replicates both from the raw table, so a
    // stale pin, a wrong version resolution, or a reclaim-too-early all
    // hash-fail.
    "s_time_travel" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
      val tmp = tmpDir("graft_tt")
      val sink = graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
        tmp, Seq("o_orderkey"), "o_orderstatus") _
      sink(t, 0L)
      sink(t.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), 1L)
      val v0 = graft.streaming.StreamingPipeline
        .readPartitionedSnapshot(s, tmp, versionAsOf = Some(0L))
        .select(col("o_orderkey"), col("o_totalprice").as("price_v0"))
      val now = graft.streaming.StreamingPipeline.readPartitionedSnapshot(s, tmp)
        .select(col("o_orderkey"), col("o_totalprice").as("price_now"))
      v0.join(now, Seq("o_orderkey"))
    }),
    // Version diff (operators/Diff.scala) over the same manifest-snapshot
    // sink: batch 1 doubles every 7th order's price AND inserts re-keyed
    // copies of every 13th order, so diff(v0, current) must report
    // exactly those keys as 'changed' and 'added' — the audit read the
    // time-travel API exists for.
    "s_version_diff" -> ((s, dir) => {
      val t = Tables.orders(s, dir)
      val tmp = tmpDir("graft_vdiff")
      val sink = graft.streaming.StreamingPipeline.upsertPartitionedBatchSnapshot(
        tmp, Seq("o_orderkey"), "o_orderstatus") _
      sink(t, 0L)
      sink(t.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(t.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)), 1L)
      val v0 = graft.streaming.StreamingPipeline
        .readPartitionedSnapshot(s, tmp, versionAsOf = Some(0L))
      val now = graft.streaming.StreamingPipeline.readPartitionedSnapshot(s, tmp)
      graft.operators.Diff.diff(v0, now, Seq("o_orderkey"))
    }),
    // SCD Type-2 history build (operators/Scd.scala): each order's
    // lineitem sequence read as a change log (l_linenumber = version),
    // consecutive identical (returnflag, linestatus) payloads collapsed
    // into one validity interval with exclusive effective_to — the
    // dimension-history constructor over one key shuffle (both window
    // passes share the l_orderkey exchange). The synthetic lineitem
    // repeats line numbers, violating buildType2's unique-version
    // contract (ties make the run collapse order-dependent), so the log
    // is first collapsed to one deterministic record per (key, version)
    // — the cleanup any real change-log ingest does. The explicit
    // l_orderkey repartition makes the tie-collapse groupBy, whose
    // (key, version) clustering it satisfies as a subset, AND both
    // window passes share ONE exchange (asserted by PlanAuditSpec).
    "e_scd2_history" -> ((s, dir) =>
      graft.operators.Scd.buildType2(
        Tables.lineitem(s, dir)
          .repartition(col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(min(col("l_returnflag")).as("l_returnflag"),
            min(col("l_linestatus")).as("l_linestatus")),
        Seq("l_orderkey"), "l_linenumber")),

    // Partition pruning: a predicate on the partition column must skip
    // whole directories at planning time (PartitionFilters in the scan —
    // asserted by PartitionPruneSpec; SURVEY §4 "free if we add
    // date-filtered reads").
    "s_partition_pruned" -> ((s, dir) => {
      val tmp = tmpDir("graft_part_prune")
      Tables.writePartitioned(Tables.orders(s, dir), "o_orderstatus", tmp)
      s.read.parquet(tmp).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    }),
    "s_json_roundtrip" -> ((s, dir) => {  // S9 JSON doc write + schema read
      val customer = Tables.customer(s, dir)
      val tmp = tmpDir("graft_json_rt")
      customer.write.mode("overwrite").json(tmp)
      s.read.schema(customer.schema).json(tmp)
    }),
    "s_orc_roundtrip" -> ((s, dir) => {   // columnar-format breadth: ORC
      val tmp = tmpDir("graft_orc_rt")
      Tables.orders(s, dir).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
    }),
    "s_text_roundtrip" -> ((s, dir) => {  // line-text source (one col/line)
      val tmp = tmpDir("graft_text_rt")
      Tables.documents(s, dir).select(col("text")).write.mode("overwrite").text(tmp)
      s.read.text(tmp)
    }),
    // Schema evolution on read: two parquet generations (the second adds a
    // column), merged by footer union (mergeSchema) — old files surface the
    // new column as null. The ingest reality every long-lived table hits;
    // mergeSchema costs one footer read per file, so the scale default
    // stays declared-schema (Tables.parquet) and this is the migration
    // path. Oracle replays the same union in SQL.
    "s_schema_merge" -> ((s, dir) => {
      val tmp = tmpDir("graft_schema_merge")
      val r = Tables.region(s, dir)
      r.select("r_regionkey", "r_name").write.parquet(tmp + "/gen=0")
      r.select(col("r_regionkey"), col("r_name"),
          lit("v2").as("ingest_tag")).write.parquet(tmp + "/gen=1")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select("r_regionkey", "r_name", "ingest_tag", "gen")
    }),
    "s_listing" -> ((s, dir) =>           // S10 object-listing source
      s.read.format("binaryFile").load(dir + "/*.parquet")
        .select(regexp_extract(col("path"), "([a-z]+)\\.parquet$", 1)
          .as("table_name"))),
    "s_schema_only" -> ((s, dir) => {     // S3 footer-only scan
      import s.implicits._
      Tables.parquetSchema(s, dir + "/orders.parquet")
        .fields.map(_.name).toSeq.toDF("column_name")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "v_rules_orders" -> rulesOrdersOracle("orders"),
    "v_rules_lineitem" ->
      """SELECT 'lineitem' AS table_name, 'null_required' AS rule, 'l_orderkey' AS column_name, CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS violation_count FROM lineitem
         UNION ALL SELECT 'lineitem', 'null_required', 'l_partkey', CAST(COUNT(*) FILTER (WHERE l_partkey IS NULL) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'null_required', 'l_suppkey', CAST(COUNT(*) FILTER (WHERE l_suppkey IS NULL) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'null_required', 'l_linenumber', CAST(COUNT(*) FILTER (WHERE l_linenumber IS NULL) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'invalid_status', 'l_returnflag', CAST(COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('N','A','R')) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'negative_value', 'l_quantity', CAST(COUNT(*) FILTER (WHERE l_quantity < 0) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'negative_value', 'l_extendedprice', CAST(COUNT(*) FILTER (WHERE l_extendedprice < 0) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'negative_value', 'l_discount', CAST(COUNT(*) FILTER (WHERE l_discount < 0) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'negative_value', 'l_tax', CAST(COUNT(*) FILTER (WHERE l_tax < 0) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'empty_relation', '*', CAST(CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS BIGINT) FROM lineitem
         UNION ALL SELECT 'lineitem', 'duplicate_key', 'l_orderkey,l_linenumber', CAST(COUNT(*) AS BIGINT) FROM (SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
         UNION ALL SELECT 'lineitem', 'non_integral_type', 'l_linenumber', CAST(0 AS BIGINT)""",
    "v_rules_violations" ->
      s"""WITH m AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                  CASE WHEN o_orderkey % 7 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders),
         w AS (SELECT * FROM m UNION ALL SELECT * FROM m WHERE o_orderkey % 11 = 0)
         ${rulesOrdersOracle("w")}""",

    "v_group_report" ->
      """WITH m AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                  CASE WHEN o_orderkey % 7 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
                  o_orderdate
           FROM orders),
         w AS (SELECT * FROM m UNION ALL SELECT * FROM m WHERE o_orderkey % 11 = 0),
         g AS (SELECT o_orderkey % 100 AS grp,
                      COUNT(*) FILTER (WHERE o_orderkey IS NULL)
                    + COUNT(*) FILTER (WHERE o_custkey IS NULL)
                    + COUNT(*) FILTER (WHERE o_orderstatus IS NULL)
                    + COUNT(*) FILTER (WHERE o_orderdate IS NULL)
                    + COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('P','O','F'))
                    + COUNT(*) FILTER (WHERE o_totalprice < 0) AS violation_count
               FROM w GROUP BY 1)
         SELECT grp, CAST(violation_count AS BIGINT) AS violation_count,
                CASE WHEN violation_count = 0 THEN 'VALIDATION_PASSED'
                     ELSE 'VALIDATION_FAILED' END AS status
         FROM g""",
    "s_csv_inferred" -> "SELECT r_regionkey, r_name FROM region",
    "s_csv_corrupt" ->
      "SELECT CAST(3 AS BIGINT) AS n_clean, CAST(1 AS BIGINT) AS n_corrupt",
    "s_bucketed_join" ->
      """SELECT o.o_orderkey, o.o_totalprice, l.l_quantity, l.l_extendedprice
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""",
    // z-order: the Morton interleave replicated term by term — bit b of
    // x at position 2b, of y at position 2b+1
    "s_zorder" ->
      s"""SELECT o_orderkey, o_custkey % 1024 AS x, o_orderkey % 1024 AS y,
         CAST(${(0 until 10).flatMap(b => Seq(
           s"(((o_custkey % 1024) // ${1L << b}) % 2) * ${1L << (2 * b)}",
           s"(((o_orderkey % 1024) // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"))
           .mkString(" + ")} AS BIGINT) AS z
         FROM orders""",
    "s_compact" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders""",
    "s_data_skipping" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_custkey BETWEEN 100 AND 400""",
    // OPTIMIZE moves bytes, not rows: content equals the source
    "s_optimize" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders""",
    "e_string_index" ->
      """WITH m AS (SELECT o_orderpriority AS label, CAST(COUNT(*) AS BIGINT) AS label_count
                    FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1),
         r AS (SELECT label, CAST(row_number() OVER (ORDER BY label_count DESC, label) - 1 AS INTEGER) AS idx
               FROM m)
         SELECT o.o_orderkey, o.o_orderpriority, r.idx AS prio_idx
         FROM orders o LEFT JOIN r ON o.o_orderpriority = r.label""",
    // k-anonymity: one aggregation at quasi-identifier grain
    "v_k_anonymity" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           (count(*) >= 10) AS anonymous
         FROM documents GROUP BY lang, source""",
    // l-diversity: the same one-aggregation shape + exact distinct count
    "v_l_diversity" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
           (count(DISTINCT source) >= 3) AS diverse
         FROM documents GROUP BY lang""",
    // Byte-budget file bin-packing: one ordered cumsum + integer div
    "s_file_binpack" ->
      """WITH c AS (SELECT doc_id, n_chars,
           CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_byte
         FROM documents)
       SELECT doc_id, n_chars, start_byte,
         start_byte // 65536 AS file_first,
         CASE WHEN n_chars > 0 THEN (start_byte + n_chars - 1) // 65536
              ELSE start_byte // 65536 END AS file_last,
         start_byte % 65536 AS offset_in_file
       FROM c""",

    "e_parse_props" ->
      "SELECT event_id, CAST(props->>'k' AS INTEGER) AS k FROM events",
    "e_to_json" ->
      """SELECT event_id,
                CAST(to_json(struct_pack(event_id := event_id, event_type := COALESCE(event_type, ''))) AS VARCHAR) AS payload
         FROM events""",
    "e_route" ->
      """SELECT event_id,
                CASE WHEN contains(event_type, 'view') THEN 'views'
                     WHEN contains(event_type, 'click') THEN 'clicks'
                     WHEN starts_with(event_type, 'purch') THEN 'purchases'
                     WHEN ends_with(event_type, 'up') THEN 'signups'
                     ELSE 'other' END AS route,
                strftime(ts, '%Y-%m-%d') AS day
         FROM events""",
    "e_daily_value" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
                COUNT(*) AS n_events
         FROM events GROUP BY 1, 2""",
    "e_filter_eq" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE CAST(user_id AS VARCHAR) = '7'""",
    // f_uuid's structural twin: uuid()/now() values are random, but a
    // correct generator yields exactly one well-formed v4 uuid per row, all
    // distinct, and a timestamp whose ISO rendering round-trips — so every
    // shape count must equal COUNT(*).
    "f_uuid_shape" ->
      """SELECT COUNT(*) AS n_rows, COUNT(*) AS n_uuid_v4,
                COUNT(*) AS n_uuid_distinct, COUNT(*) AS n_ts_roundtrip
         FROM events""",
    "s_kv_sink" ->
      """WITH k AS (SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
                COUNT(*) AS n_events
           FROM events GROUP BY 1, 2)
         SELECT event_type || '|' || strftime(day, '%Y-%m-%d') AS pk, total_value, n_events FROM k""",

    "e_tumbling" ->
      """SELECT event_type,
                date_trunc('hour', ts) AS window_start,
                date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2, 3""",
    "e_sliding" ->
      """WITH s AS (
           SELECT event_type, time_bucket(INTERVAL 30 MINUTE, ts) AS w FROM events
           UNION ALL
           SELECT event_type, time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE FROM events)
         SELECT event_type, w AS window_start, w + INTERVAL 1 HOUR AS window_end,
                COUNT(*) AS n_events
         FROM s GROUP BY 1, 2""",
    "e_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS tp, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT u, MIN(t) AS t FROM e WHERE tp = 'signup' GROUP BY 1),
         s2 AS (SELECT e.u, MIN(e.t) AS t FROM e JOIN s1 ON e.u = s1.u
                WHERE e.tp = 'click' AND e.t > s1.t GROUP BY 1),
         s3 AS (SELECT e.u, MIN(e.t) AS t FROM e JOIN s2 ON e.u = s2.u
                WHERE e.tp = 'purchase' AND e.t > s2.t GROUP BY 1)
         SELECT 1 AS step, 'signup' AS step_name, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
         UNION ALL
         SELECT 2 AS step, 'click' AS step_name, CAST(COUNT(*) AS BIGINT) AS n_users FROM s2
         UNION ALL
         SELECT 3 AS step, 'purchase' AS step_name, CAST(COUNT(*) AS BIGINT) AS n_users FROM s3""",
    "e_resample" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
                      MAX(CAST(value AS DECIMAL(18,2))) AS v
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         b AS (SELECT u, MIN(t) AS t0, MAX(t) AS t1 FROM e GROUP BY 1),
         grid AS (SELECT u, unnest(generate_series(t0, t1, 86400000000)) AS gt FROM b)
         SELECT g.u AS user_id, CAST(g.gt AS BIGINT) AS grid_micros,
                CAST(e.v AS DOUBLE) AS value
         FROM grid g ASOF JOIN e ON g.u = e.u AND g.gt >= e.t""",
    "e_resample_linear" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
                      MAX(CAST(value AS DECIMAL(18,2))) AS v
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         b AS (SELECT u, MIN(t) AS t0, MAX(t) AS t1 FROM e GROUP BY 1),
         grid AS (SELECT u, unnest(generate_series(t0, t1, 86400000000)) AS t FROM b),
         un AS (SELECT u, t, 0 AS g, v FROM e
                UNION ALL
                SELECT u, t, 1 AS g, CAST(NULL AS DECIMAL(18,2)) AS v FROM grid),
         br AS (SELECT u, t, g,
                  last_value(CASE WHEN g = 0 THEN t END IGNORE NULLS) OVER fwd AS pt,
                  last_value(CASE WHEN g = 0 THEN v END IGNORE NULLS) OVER fwd AS pv,
                  last_value(CASE WHEN g = 0 THEN t END IGNORE NULLS) OVER bwd AS nt,
                  last_value(CASE WHEN g = 0 THEN v END IGNORE NULLS) OVER bwd AS nv
                FROM un
                WINDOW fwd AS (PARTITION BY u ORDER BY t, g
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 bwd AS (PARTITION BY u ORDER BY t DESC, g DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT u AS user_id, CAST(t AS BIGINT) AS grid_micros,
                round(CASE WHEN t = pt THEN CAST(pv AS DOUBLE)
                      ELSE CAST(pv AS DOUBLE)
                           + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                             * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
                      END, 6) AS value
         FROM br WHERE g = 1""",
    "e_time_weighted" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
                      CAST(value AS DECIMAL(18,2)) AS v FROM events
                    WHERE value IS NOT NULL AND ts IS NOT NULL),
         d AS (SELECT u, v, lead(t) OVER (PARTITION BY u ORDER BY t, v) - t AS dt
               FROM e),
         g AS (SELECT u, SUM(v * dt) AS num, SUM(dt) AS den
               FROM d WHERE dt IS NOT NULL GROUP BY 1 HAVING SUM(dt) > 0)
         SELECT u AS user_id, round(CAST(num AS DOUBLE) / den, 6) AS tw_avg,
                CAST(den AS BIGINT) AS span_micros
         FROM g""",
    // EWMA: identical fold — first sample is the init (no-init
    // list_reduce), then alpha*x + beta*acc per step in DOUBLE. beta is
    // interpolated from the SAME 1.0 - alpha double the operator uses
    // (1.0 - 0.3 is 0.7000000000000001 in IEEE, NOT 0.7)
    "e_ewma" ->
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
                      CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
                    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         g AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_samples,
                 list_reduce(list({'t': t, 'v': v} ORDER BY t, v),
                   (acc, x) -> {'t': x.t,
                     'v': CAST(0.3 AS DOUBLE) * x.v + CAST(${1.0 - 0.3} AS DOUBLE) * acc.v}) AS f
               FROM e GROUP BY u)
         SELECT u AS user_id, n_samples, round(f.v, 6) AS ewma FROM g""",
    "e_cohorts" ->
      """WITH a AS (SELECT DISTINCT user_id AS u,
                      CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         f AS (SELECT u, MIN(wk) AS cohort_week FROM a GROUP BY 1)
         SELECT f.cohort_week,
                date_diff('day', f.cohort_week, a.wk) // 7 AS weeks_since,
                CAST(COUNT(*) AS BIGINT) AS n_active
         FROM a JOIN f USING (u) GROUP BY 1, 2""",
    "e_sessionize" ->
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
    "e_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
                COUNT(*) FILTER (WHERE event_type = 'click') AS click,
                COUNT(*) FILTER (WHERE event_type = 'error') AS error,
                COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
                COUNT(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1""",
    "e_unpivot" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
         FROM events
         WHERE event_type IN ('click','error','purchase','signup','view')
         GROUP BY 1, 2""",

    "s_csv_roundtrip" -> "SELECT r_regionkey, r_name FROM region",
    "s_partitioned_roundtrip" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders",
    "s_partition_pruned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderstatus = 'F'""",
    "s_partitioned_upsert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders""",
    "s_partitioned_upsert_snapshot" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders""",
    // schema evolution: the full-outer MERGE with the update batch's new
    // column, null on every row the evolving batch didn't write
    "s_evolve_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice, o_orderpriority
                    FROM orders WHERE o_orderkey % 3 = 0),
            u AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
                         o_orderpriority,
                         'c' || CAST(o_orderkey % 5 AS VARCHAR) AS note
                  FROM orders
                  WHERE o_orderkey % 2 = 0
                    AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
         SELECT
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderkey
                ELSE t.o_orderkey END AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority
                ELSE t.o_orderpriority END AS o_orderpriority,
           u.note AS note
         FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey""",
    // time travel after the evolving commit: version 0's own schema/rows
    "s_evolve_timetravel" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey % 3 = 0""",
    // the delete replayed as an anti-filter on the raw table
    "s_partitioned_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE NOT (o_orderkey % 5 = 0 OR o_orderstatus = 'P')""",
    "s_time_travel" ->
      """SELECT o_orderkey, o_totalprice AS price_v0,
                CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS price_now
         FROM orders""",
    "s_version_diff" ->
      """SELECT o_orderkey, 'changed' AS change FROM orders WHERE o_orderkey % 7 = 0
         UNION ALL
         SELECT o_orderkey + 1000000000 AS o_orderkey, 'added' AS change
         FROM orders WHERE o_orderkey % 13 = 0""",
    "e_scd2_history" -> scd2HistoryOracle,
    "s_json_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "s_schema_merge" ->
      """SELECT r_regionkey, r_name, NULL AS ingest_tag, CAST(0 AS BIGINT) AS gen FROM region
         UNION ALL
         SELECT r_regionkey, r_name, 'v2' AS ingest_tag, CAST(1 AS BIGINT) AS gen FROM region""",
    "s_orc_roundtrip" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders",
    "s_text_roundtrip" -> "SELECT text AS value FROM documents",
    "s_listing" ->
      """SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),('lineitem'),
         ('nation'),('orders'),('part'),('region'),('supplier')) AS t(table_name)""",
    "s_schema_only" ->
      """SELECT * FROM (VALUES ('o_orderkey'),('o_custkey'),('o_orderstatus'),
         ('o_totalprice'),('o_orderdate'),('o_orderpriority')) AS t(column_name)"""
  )
}
