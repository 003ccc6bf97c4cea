package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sinks.KvWriter

/** Minimal JSON rendering for the run report (no JSON library ships with
  * the Spark jars the program builds against).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => str(o.toString)
  }
}

/** Order statistics used for every reported latency. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank value at the highest of a few percentiles that still has
    * at least ten samples above it: (value, percentile, samples beyond).
    * None when there are fewer than twenty samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val n = s.length
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      (p, rank, n - rank)
    }.collectFirst { case (p, rank, beyond) if beyond >= 10 => (s(rank - 1), p, beyond) }
  }

  def describe(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val t = tail(xs)
      Map("n" -> xs.length, "p50" -> median(xs), "min" -> xs.min, "max" -> xs.max,
        "tail" -> t.map(_._1), "tail_pct" -> t.map(_._2), "tail_beyond" -> t.map(_._3))
    }
}

/** The benchmark-side key-value store the KPI rows are pushed to: one map
  * per KPI table, keyed like the reference's two DynamoDB tables —
  * (category, order_date) and order_date. Executors share the JVM in local
  * mode, so the static maps see every partition's puts.
  */
object BenchKv {
  val category = new ConcurrentHashMap[(String, String), Map[String, String]]()
  val daily = new ConcurrentHashMap[String, Map[String, String]]()
  val items = new AtomicLong()
  val chunks = new AtomicLong()

  def clear(): Unit = { category.clear(); daily.clear() }

  private def put(table: String, i: Map[String, String]): Unit = table match {
    case "category" => category.put((i("category"), i("order_date")), i)
    case _ => daily.put(i("order_date"), i)
  }

  /** A writer for one table. */
  final class TableWriter(table: String) extends KvWriter {
    def putBatch(batch: Seq[Map[String, String]]): Unit = {
      chunks.incrementAndGet(); items.addAndGet(batch.size)
      batch.foreach(put(table, _))
    }
  }

  /** One writer for both tables (what `Pipeline.sink` takes): a category
    * row always carries `avg_return_rate`, a daily row never does.
    */
  final class RoutingWriter extends KvWriter {
    def putBatch(batch: Seq[Map[String, String]]): Unit = {
      chunks.incrementAndGet(); items.addAndGet(batch.size)
      batch.foreach(i => put(if (i.contains("avg_return_rate")) "category" else "daily", i))
    }
  }

  def size: Int = category.size + daily.size

  def categoryRows: Map[(String, String), Map[String, String]] = category.asScala.toMap
  def dailyRows: Map[String, Map[String, String]] = daily.asScala.toMap
}
