package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.Tables
import graft.validate.TableRules

/** One landed file of the streaming workloads. `redelivery` marks a second
  * landing of an earlier file's bytes; `dueS` is its offset in the landing
  * schedule (open loop) — closed-loop workloads ignore it.
  */
final case class Landing(name: String, fileId: Int, redelivery: Boolean, dueS: Double)

/** The generated input of one streaming run: the staged files (written
  * before timing starts), their landing schedule, and the facts the
  * benchmark needs to follow each file — which orders it holds, the order
  * dates of those orders, which file breaks a rule.
  */
final case class StreamInput(staged: String, warm: Seq[Landing], timed: Seq[Landing],
                             orderFiles: Map[Long, Seq[String]],
                             orderDate: Map[Long, java.sql.Date],
                             badFile: Option[String],
                             manifest: Seq[Map[String, Any]])

/** Seeded input generator. Everything is derived from the seed and the
  * read-only sf0.1 tables; the program only ever sees the staged files.
  *
  * A streaming file holds complete order groups in the "wide" landing
  * shape: one row per order header, per line item and per (order,
  * product) reference, tagged by `kind`, with the other kinds' columns
  * null. It is what a shop export of a few hundred orders looks like.
  */
object Gen {
  val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val ItemCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  val PartCols = Seq("p_partkey", "p_type", "p_name", "p_brand", "p_retailprice")
  /** The key a redelivered row repeats: one per order, item and product reference. */
  val Keys = Seq("kind", "order_key", "l_linenumber", "p_partkey")

  /** The reference's order and item rules (validate.py:31-47,220-243), as
    * the program's rule configs for the sf tables declare them.
    */
  val OrderRules = TableRules(
    table = "orders",
    expectedColumns = OrderCols,
    uniqueKey = Seq("o_orderkey"),
    requiredColumns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
    statusColumn = Some("o_orderstatus"),
    validStatuses = Seq("P", "O", "F"),
    nonNegativeColumns = Seq("o_totalprice"),
    integralColumns = Seq("o_orderkey"))
  val ItemRules = TableRules(
    table = "lineitem",
    expectedColumns = ItemCols,
    uniqueKey = Seq("l_orderkey", "l_linenumber"),
    requiredColumns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    statusColumn = Some("l_returnflag"),
    validStatuses = Seq("N", "A", "R"),
    nonNegativeColumns = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    integralColumns = Seq("l_linenumber"))

  private val FirstDate = "1995-01-01"

  def wideSchema(spark: SparkSession, sf: String): StructType = {
    val o = Tables.orders(spark, sf).schema
    val l = Tables.lineitem(spark, sf).schema
    val p = Tables.part(spark, sf).schema
    StructType(Seq(
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("order_key", org.apache.spark.sql.types.LongType)) ++
      OrderCols.map(o(_)) ++ ItemCols.map(l(_)) ++ PartCols.map(p(_)))
  }

  /** The sf tables' line numbers are not unique within an order (261,283
    * of sf0.1's 600,000 items share an (l_orderkey, l_linenumber) with
    * another item), so every shop export would break the reference's
    * unique-key item rule. The generator numbers each order's items
    * 1..n in a fixed order instead.
    */
  def numbered(items: DataFrame): DataFrame =
    items.withColumn("l_linenumber", row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy(ItemCols.filterNot(_ == "l_linenumber").map(col): _*)))

  /** Rows of a parquet file, from its footer. */
  def rowCount(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Wide rows for the orders of `assigned` (o_* columns plus `file_id`). */
  private def wide(spark: SparkSession, sf: String, assigned: DataFrame): DataFrame = {
    val schema = wideSchema(spark, sf)
    val items = numbered(Tables.lineitem(spark, sf).select(ItemCols.map(col): _*)
      .join(assigned.select(col("o_orderkey").as("l_orderkey"), col("file_id")), "l_orderkey"))
    val prods = items.select("l_orderkey", "l_partkey", "file_id").distinct()
      .join(Tables.part(spark, sf).select(PartCols.map(col): _*),
        col("l_partkey") === col("p_partkey"))
      .drop("l_partkey")
    def shape(df: DataFrame, kind: String, orderKey: Column): DataFrame =
      df.select((Seq(lit(kind).as("kind"), orderKey.as("order_key")) ++
        schema.fields.drop(2).map { f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } :+ col("file_id")): _*)
    shape(assigned, "order", col("o_orderkey"))
      .unionByName(shape(items, "item", col("l_orderkey")))
      .unionByName(shape(prods, "product", col("l_orderkey")))
  }

  /** Write one parquet file per file id and move each to `<staged>/<name>`. */
  private def stage(rows: DataFrame, staged: String, names: Map[Int, String]): Unit = {
    val raw = s"$staged/_raw"
    rows.repartition(col("file_id")).write.mode("overwrite")
      .partitionBy("file_id").parquet(raw)
    names.foreach { case (id, name) =>
      val dir = new File(s"$raw/file_id=$id")
      val part = Option(dir.listFiles()).toSeq.flatten.find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"generator wrote no rows for file $id"))
      Files.move(part.toPath, Paths.get(s"$staged/$name"), StandardCopyOption.ATOMIC_MOVE)
    }
    Scratch.rm(raw)
  }

  private def dateIdx: Column = datediff(to_date(col("o_orderdate")), lit(FirstDate).cast("date"))

  /** Orders → file, order → date facts, and the per-file manifest. */
  private def facts(assigned: DataFrame, staged: String, names: Map[Int, String])
      : (Map[Long, Int], Map[Long, java.sql.Date], Seq[Map[String, Any]]) = {
    val od = assigned.select(col("o_orderkey"), col("file_id"), to_date(col("o_orderdate")).as("d"))
      .collect()
    val orderFile = od.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val orderDate = od.map(r => r.getLong(0) -> r.getDate(2)).toMap
    val dates = od.groupBy(_.getInt(1)).map { case (f, rs) => f -> rs.map(_.getDate(2).toString).distinct.sorted }
    val manifest = names.toSeq.sortBy(_._1).map { case (id, name) =>
      val ds = dates.getOrElse(id, Array.empty[String])
      Map[String, Any]("file" -> name, "rows" -> rowCount(s"$staged/$name"),
        "bytes" -> new File(s"$staged/$name").length(), "dates" -> ds.length,
        "first_date" -> ds.headOption, "last_date" -> ds.lastOption)
    }
    (orderFile, orderDate, manifest)
  }

  /** Seed-independent part of the `trickle` input, built once per
    * checkout: for every band of `bandDays` consecutive order dates, one
    * file of its complete order groups and one variant that breaks the
    * order status rule (every fifth order reads status "X"), plus each
    * order's band and date. A run then stages its files by copying.
    */
  private def bandCache(spark: SparkSession, sf: String, cache: String, bandDays: Int): String = {
    val dir = s"$cache/trickle-bands-$bandDays-${Integer.toHexString(new File(sf).getCanonicalPath.hashCode)}"
    if (!new File(s"$dir/_DONE").exists) {
      val tmp = s"$dir.tmp"
      Scratch.rm(tmp)
      Scratch.rm(dir)
      val assigned = Tables.orders(spark, sf).select(OrderCols.map(col): _*)
        .withColumn("file_id", floor(dateIdx / bandDays).cast("int"))
      val good = wide(spark, sf, assigned).persist()
      val bad = good.withColumn("o_orderstatus",
        when(col("kind") === "order" && col("order_key") % 5 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      good.withColumn("variant", lit("good")).unionByName(bad.withColumn("variant", lit("bad")))
        .repartition(col("variant"), col("file_id")).write
        .partitionBy("variant", "file_id").parquet(s"$tmp/_raw")
      good.unpersist()
      for (variant <- Seq("good", "bad")) {
        Scratch.mkdirs(s"$tmp/$variant")
        Option(new File(s"$tmp/_raw/variant=$variant").listFiles()).toSeq.flatten.foreach { d =>
          val band = d.getName.stripPrefix("file_id=")
          d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { part =>
            Files.move(part.toPath, Paths.get(s"$tmp/$variant/$band.parquet"))
          }
        }
      }
      Scratch.rm(s"$tmp/_raw")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$tmp/orders.bin")))
      try assigned.select(col("o_orderkey"), col("file_id"), dateIdx).collect().foreach { r =>
        out.writeLong(r.getLong(0)); out.writeInt(r.getInt(1)); out.writeInt(r.getInt(2))
      } finally out.close()
      new File(s"$tmp/_DONE").createNewFile()
      Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  /** (order key, band, date index) of every order, from the band cache. */
  private def bandOrders(dir: String): Iterator[(Long, Int, Int)] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(s"$dir/orders.bin")))
    val n = new File(s"$dir/orders.bin").length() / 16
    val out = (0L until n).map(_ => (in.readLong(), in.readInt(), in.readInt())).toVector
    in.close()
    out.iterator
  }

  /** `trickle`: consecutive narrow date bands, one file per band, landed in
    * a locally shuffled order with some files landing twice and one file
    * breaking an order rule, at `rate` files/s for `seconds`.
    */
  def trickle(spark: SparkSession, sf: String, cache: String, staged: String, seed: Long,
              bandDays: Int, warmFiles: Int, rate: Double, seconds: Double): StreamInput = {
    val rnd = new scala.util.Random(seed)
    val landingsTimed = math.max(1, math.round(rate * seconds).toInt)
    val redeliveries = math.max(1, landingsTimed / 12)
    val nFiles = warmFiles + landingsTimed - redeliveries
    val bands = 2405 / bandDays
    require(nFiles < bands, s"$nFiles files of $bandDays days exceed the order history")
    val start = rnd.nextInt(bands - nFiles)
    val cacheDir = bandCache(spark, sf, cache, bandDays)
    val timedIds = (warmFiles until nFiles).toVector
    val redelivered = rnd.shuffle(timedIds).take(redeliveries).toSet
    val bad = rnd.shuffle(timedIds.filterNot(redelivered)).head
    val names = (0 until nFiles).map(i => i -> f"f$i%04d.parquet").toMap
    names.foreach { case (i, name) =>
      Files.copy(Paths.get(s"$cacheDir/${if (i == bad) "bad" else "good"}/${start + i}.parquet"),
        Paths.get(s"$staged/$name"))
    }
    val first = java.time.LocalDate.parse(FirstDate)
    val picked = bandOrders(cacheDir).filter { case (_, b, _) => b >= start && b < start + nFiles }.toVector
    val orderFile = picked.map { case (o, b, _) => o -> (b - start) }.toMap
    val orderDate = picked.map { case (o, _, d) => o -> java.sql.Date.valueOf(first.plusDays(d)) }.toMap
    val manifest = names.toSeq.sortBy(_._1).map { case (id, name) =>
      val ds = picked.filter(_._2 == start + id).map(_._3).distinct.sorted
      Map[String, Any]("file" -> name, "rows" -> rowCount(s"$staged/$name"),
        "bytes" -> new File(s"$staged/$name").length(), "dates" -> ds.length,
        "first_date" -> ds.headOption.map(d => first.plusDays(d).toString),
        "last_date" -> ds.lastOption.map(d => first.plusDays(d).toString),
        "breaks_rule" -> (id == bad))
    }
    locally {
      // arrival order: the band order with neighbouring files swapped at
      // random, and each redelivered file landing again 1-3 places later
      val order = timedIds.toArray
      var i = 0
      while (i < order.length - 1) {
        if (rnd.nextDouble() < 0.35) { val t = order(i); order(i) = order(i + 1); order(i + 1) = t; i += 2 }
        else i += 1
      }
      val seq = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
      order.foreach(id => seq += ((id, false)))
      order.filter(redelivered).foreach { id =>
        val at = (seq.indexWhere(_ == ((id, false))) + 1 + rnd.nextInt(3)).min(seq.length)
        seq.insert(at, (id, true))
      }
      redelivered.foreach { id =>
        Files.copy(Paths.get(s"$staged/${names(id)}"),
          Paths.get(s"$staged/${names(id).replace(".parquet", "r.parquet")}"))
      }
      val timed = seq.zipWithIndex.map { case ((id, re), j) =>
        Landing(if (re) names(id).replace(".parquet", "r.parquet") else names(id), id, re, j / rate)
      }.toSeq
      val warm = (0 until warmFiles).map(i => Landing(names(i), i, redelivery = false, 0.0))
      val byOrder = orderFile.map { case (o, f) =>
        o -> (Seq(names(f)) ++ (if (redelivered(f)) Seq(names(f).replace(".parquet", "r.parquet")) else Nil))
      }
      StreamInput(staged, warm, timed, byOrder, orderDate, Some(names(bad)), manifest)
    }
  }

  /** `late_revisions`: small files of new orders for many historic dates.
    * On each date the orders are ranked by a seeded hash; file j takes the
    * orders ranked [k·j, k·j + k) on the dates it is dealt, about
    * `datesPerFile` dates spread over the whole history, so no two files
    * share an order and each file touches that many date partitions.
    */
  def lateRevisions(spark: SparkSession, sf: String, staged: String, seed: Long,
                    datesPerFile: Int, ordersPerDate: Int, nFiles: Int): StreamInput = {
    val groups = math.max(1, 2405 / datesPerFile)
    val ranked = Tables.orders(spark, sf).select(OrderCols.map(col): _*)
      .withColumn("d", dateIdx)
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("d").orderBy(xxhash64(col("o_orderkey"), lit(seed)))) - 1)
      .withColumn("file_id", (col("rn") / ordersPerDate).cast("int"))
      .filter(col("file_id") < nFiles &&
        pmod(xxhash64(col("d"), col("file_id"), lit(seed)), lit(groups.toLong)) === 0)
      .drop("d", "rn")
    val names = (0 until nFiles).map(i => i -> f"r$i%04d.parquet").toMap
    val rows = wide(spark, sf, ranked)
    locally {
      stage(rows, staged, names)
      val (orderFile, orderDate, manifest) = facts(ranked, staged, names)
      val all = (0 until nFiles).map(i => Landing(names(i), i, redelivery = false, 0.0))
      StreamInput(staged, all.take(1), all.drop(1),
        orderFile.map { case (o, f) => o -> Seq(names(f)) }, orderDate, None, manifest)
    }
  }
}

/** Work-directory helpers. */
object Scratch {
  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => rm(c.getPath))
    f.delete()
  }

  def mkdirs(path: String): String = { new File(path).mkdirs(); path }

  def files(path: String): Seq[String] = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => files(c.getPath))
    else if (f.exists) Seq(f.getPath) else Nil
  }

  def bytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => bytes(c.getPath)).sum
    else f.length()
  }
}
