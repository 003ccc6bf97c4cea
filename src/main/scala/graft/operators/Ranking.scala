package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global quantile bucketing (VERDICT r05 #2).
  *
  * `ntile(k) OVER (ORDER BY …)` is inherently a single-partition window:
  * one task sorts the world. Fine when the window input is a bounded
  * aggregate (the audited w_ntile_deciles shape), wrong once the ranked
  * table itself is large — at genuine 100 TB customer cardinality the
  * global sort is the bottleneck. This operator computes the SAME buckets
  * with exact rank arithmetic and no single-partition exchange:
  *
  *  1. range-repartition on the sort key — Spark's range exchange samples
  *     boundaries and scatters rows so partition i holds keys strictly
  *     before partition i+1's (the first stage of a distributed sort);
  *  2. count rows per partition and prefix-sum the ≤ shuffle-partitions
  *     counts on the driver (bounded metadata, never data rows);
  *  3. rank = partition offset + per-partition row_number — the window is
  *     keyed by partition id, so every partition sorts in parallel;
  *  4. bucket from the rank in closed form: with q = N div k and
  *     rem = N mod k, NTILE gives the FIRST rem buckets q+1 rows and the
  *     rest q — so ranks ≤ (q+1)·rem land in bucket (rank−1) div (q+1) + 1
  *     and the remainder in rem + (rank−1−(q+1)·rem) div q + 1. All
  *     integral `div`, no float rounding at the bucket edges.
  *
  * The verdict sketched this as "decile boundaries + broadcast
  * boundary-join"; rank arithmetic subsumes the boundary join (the rank
  * already locates every row against all k−1 cut points) and needs no
  * second pass to extract the boundary keys.
  */
object Ranking {

  /** The NTILE closed form as a SQL CASE over a `__rank` column — ONE
    * definition shared by [[ntileExact]] and RankingProps' model check,
    * so the 200-case property pins the arithmetic that actually ships
    * (code-review r6). `div` keeps the edge math integral; q = 0 (fewer
    * rows than buckets) only exercises the first branch, so its `div q`
    * arm is guarded to a dead 1.
    */
  private[operators] def ntileBucketSql(total: Long, buckets: Int): String = {
    val q = total / buckets
    val rem = total % buckets
    val bigCut = (q + 1) * rem // ranks <= bigCut sit in the q+1-row buckets
    s"""CAST(CASE WHEN __rank <= ${bigCut}L
        THEN (__rank - 1L) div ${q + 1}L
        ELSE ${rem}L + (__rank - 1L - ${bigCut}L) div ${math.max(q, 1L)}L
        END AS INT) + 1"""
  }

  /** Exact NTILE over a global total order, no single-partition exchange.
    *
    * @param df      input frame (any size — nothing here funnels it to one
    *                task)
    * @param buckets NTILE bucket count
    * @param order   total-order sort expressions, e.g.
    *                `Seq(col("spend").desc, col("id"))`; must be a TOTAL
    *                order (include a unique tiebreaker) for the result to
    *                be deterministic — same contract as deterministic
    *                window ranking anywhere else in the repo
    * @param outCol  bucket column name to append
    *
    * The intermediate range-partitioned frame is persisted (it is read by
    * both the counting pass and the ranking pass) and registered with
    * [[graft.util.Caches]] for release via `Dedup.clearCaches()`.
    */
  def ntileExact(df: DataFrame, buckets: Int, order: Seq[Column],
                 outCol: String): DataFrame = {
    require(buckets > 0, s"ntileExact needs a positive bucket count, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = graft.util.Caches.retain(
      df.repartitionByRange(order: _*)
        .withColumn("__pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // ≤ spark.sql.shuffle.partitions rows — bounded partition METADATA,
    // the same collect class as ManifestStore.commitPartitioned's
    // touched-values list
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    var acc = 0L
    val offsets = counts.map { case (pid, cnt) =>
      val o = (pid, acc); acc += cnt; o
    }.toSeq
    val offs = spark.createDataset(offsets).toDF("__pid", "__off")
    val localW = Window.partitionBy(col("__pid")).orderBy(order: _*)
    // NTILE's remainder-to-FIRST-buckets distribution in closed form
    // (ntileBucketSql — the property-checked snippet)
    ranged.join(broadcast(offs), "__pid")
      .withColumn("__rank", col("__off") + row_number().over(localW))
      .withColumn(outCol, expr(ntileBucketSql(total, buckets)))
      .drop("__pid", "__off", "__rank")
  }

  /** EXACT per-group linear-interpolated percentiles (quantile_cont
    * semantics) without buffering any group in memory — the scale-safe
    * form of `percentile(...)`, whose ObjectHashAggregate holds EVERY
    * group value in an executor array (the a7 exact form's documented
    * sf-bound, VERDICT r03/r05).
    *
    * Shape: range-repartition on (group, value) — partition sorts are
    * Spark's spillable ExternalSorter, so memory is bounded regardless of
    * group size — then per-partition row_number + prefix-sum offsets
    * (the [[ntileExact]] machinery, here per group) give every row its
    * exact within-group rank. The interpolation targets (the order
    * statistics at ⌊(N−1)·q⌋ and ⌈(N−1)·q⌉, the percentile/quantile_cont
    * definition) come from the same per-(partition, group) counts.
    *
    * ALL bookkeeping is distributed (VERDICT r06 #7): the per-(partition,
    * group) counts stay a DataFrame — prefix offsets AND group totals
    * ride one sorted window pass over the ≤ partitions×groups count rows
    * (two frames, one WindowExec), and ONE join hands both back to the
    * data — so nothing is ever collected to the driver and a
    * million-group key works in bounded driver memory (RankingSpec pins
    * 10⁵ groups). One final conditional aggregation picks the two target
    * order statistics per group and interpolates.
    *
    * @param probs (probability, output column name) pairs
    */
  def quantilesCont(df: DataFrame, groupCol: String, valCol: String,
                    probs: Seq[(Double, String)]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p._1 >= 0 && p._1 <= 1),
      s"probabilities must be in [0,1]: $probs")
    val spark = df.sparkSession
    // null values ride THROUGH the single scan (percentile ignores them
    // but still returns a row for an all-null group): the ranking window
    // orders nulls LAST within each (partition, group), offsets accumulate
    // only NON-null counts, so every non-null row keeps its exact
    // within-group rank among the non-null values. A null row's rank can
    // collide with a later partition's real rank — harmless, because the
    // target-picking max(when(rank = target)) ignores its null value
    // (code-review r6: the previous pre-filter needed a second full scan
    // of the input to restore all-null groups).
    val base = df.select(col(groupCol), col(valCol).cast("double").as("__v"))
    val ranged = graft.util.Caches.retain(
      base.repartitionByRange(col(groupCol), col("__v"))
        .withColumn("__pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = ranged.groupBy(col("__pid"), col(groupCol))
      .agg(count(col("__v")).as("__cnt"))
    // prefix offsets per group across range partitions (non-null counts —
    // the rank space percentile actually runs over), as a WINDOW over the
    // ≤ partitions×groups count rows: distributed metadata, no driver
    // collect (VERDICT r06 #7). A window partition groups null keys
    // together, matching the null-safe joins below.
    val prefixW = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the group TOTAL rides the same sorted window pass as the prefix
    // (one WindowExec, two frames) so offsets and targets come out of
    // ONE bookkeeping frame and ONE join back to the data — the
    // two-join form measured ~2x on dimension-grain groups purely in
    // fixed stage overhead (bench r7g: a7 0.98 s -> 1.9 s)
    val totalW = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = counts.select(
      col("__pid").as("__opid"), col(groupCol).as("__og"),
      coalesce(sum(col("__cnt")).over(prefixW), lit(0L)).as("__off"),
      sum(col("__cnt")).over(totalW).as("__n"))
    // interpolation targets per group, replicating Spark percentile()'s
    // exact arithmetic so the two forms agree to the LAST ULP: position =
    // (N−1)·q over 0-based indices, lower = ⌊position⌋, higher = ⌈position⌉,
    // and p = (higher − position)·x_lower + (position − lower)·x_higher
    // — with the integral-position case collapsing to weights (1, 0)
    // (Spark special-cases higher == lower; weights 1/0 encode that
    // branch-free). The weight columns use the SAME double ops Spark's
    // Percentile does — long-to-double casts of exactly-integral
    // floor/ceil values and one subtraction each — so nothing drifts in
    // the last ulp. An all-null group (n = 0) gets target rank 0, which
    // no row matches, so it NULLs out like percentile over null input.
    val targetCols = probs.zipWithIndex.flatMap { case ((q, _), i) =>
      val n = col("__n")
      val position = (n - lit(1L)).cast("double") * lit(q)
      val lower = floor(position)   // LongType in Spark SQL
      val higher = ceil(position)
      Seq(
        when(n === 0L, lit(0L)).otherwise(lower + lit(1L)).as(s"__lo$i"),
        when(n === 0L, lit(0L)).otherwise(higher + lit(1L)).as(s"__hi$i"),
        when(n === 0L || higher === lower, lit(1.0))
          .otherwise(higher.cast("double") - position).as(s"__wlo$i"),
        when(n === 0L || higher === lower, lit(0.0))
          .otherwise(position - lower.cast("double")).as(s"__whi$i"))
    }
    val book = offs.select(
      Seq(col("__opid"), col("__og"), col("__off")) ++ targetCols: _*)
    // the join is NULL-SAFE on the group key (code-review r6):
    // percentile() treats a null group key as a group like any other, so
    // rows must not fall out of the bookkeeping join. NO broadcast hint
    // (code-review r7): a forced broadcast would materialize the
    // O(partitions×groups) bookkeeping on the driver — the very
    // footprint this operator removes — while AQE still broadcasts small
    // sides at runtime, so the dimension-grain case keeps its broadcast
    // plan for free.
    val localW = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(col("__v").asc_nulls_last)
    val ranked = ranged.join(book,
        ranged("__pid") === book("__opid") && ranged(groupCol) <=> book("__og"))
      .drop("__opid", "__og")
      .withColumn("__rank", col("__off") + row_number().over(localW))
    val aggs = probs.zipWithIndex.map { case ((_, name), i) =>
      val loV = max(when(col("__rank") === col(s"__lo$i"), col("__v")))
      val hiV = max(when(col("__rank") === col(s"__hi$i"), col("__v")))
      // a REAL branch for the integral-position case, exactly like
      // Spark's Percentile: an encoded (1, 0) weight pair would turn an
      // infinite order statistic into 1*Inf + 0*Inf = NaN (code-review r6)
      when(first(col(s"__lo$i")) === first(col(s"__hi$i")), loV)
        .otherwise(
          first(col(s"__wlo$i")) * loV + first(col(s"__whi$i")) * hiV)
        .as(name)
    }
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact global PERCENT_RANK over a total order with NO
    * single-partition data window — the scale-safe score-normalization
    * transform (map any metric to its [0, 1] rank quantile; the
    * per-domain quality-threshold primitive): pr = (rank − 1) / (N − 1),
    * rounded to 6 (one IEEE division — the oracle-compare convention),
    * 0.0 for a single-row input like SQL PERCENT_RANK.
    *
    * Shape is [[ntileExact]]'s range-partition + per-partition
    * row_number + prefix offsets, with the bookkeeping DISTRIBUTED like
    * [[quantilesCont]]: per-partition counts prefix-sum through a window
    * over ≤ `spark.sql.shuffle.partitions` COUNT rows (metadata — the
    * only single-partition stage runs on partition counts, never data)
    * and N rides a 1-row broadcast. `order` must be a TOTAL order
    * (unique tiebreaker) — the deterministic-ranking contract everywhere
    * in the repo; under a total order RANK equals ROW_NUMBER, so the SQL
    * twin is PERCENT_RANK() OVER (ORDER BY <same total order>).
    */
  def percentRank(df: DataFrame, order: Seq[Column], outCol: String): DataFrame = {
    val ranged = graft.util.Caches.retain(
      df.repartitionByRange(order: _*)
        .withColumn("__pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    val prefixW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts.select(col("__pid").as("__opid"),
      coalesce(sum(col("__cnt")).over(prefixW), lit(0L)).as("__off"))
    val total = counts.agg(sum(col("__cnt")).as("__n"))
    val localW = Window.partitionBy(col("__pid")).orderBy(order: _*)
    ranged.join(offs, col("__pid") === col("__opid")).drop("__opid")
      .crossJoin(broadcast(total))
      .withColumn("__rank", col("__off") + row_number().over(localW))
      .withColumn(outCol, when(col("__n") > 1L,
          round((col("__rank") - 1L).cast("double") /
            (col("__n") - 1L).cast("double"), 6))
        .otherwise(lit(0.0)))
      .drop("__pid", "__off", "__rank", "__n")
  }
}
