package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks shared by the workloads. */
object Check {

  /** A collected KPI table: its columns and rows. */
  final case class Table(cols: Array[String], rows: Seq[Row])

  def collect(df: DataFrame, cols: Seq[String]): Table =
    Table(cols.toArray, df.select(cols.map(df.col): _*).collect().toSeq)

  /** Same rows, as a multiset, exact on every column. */
  def sameRows(got: Table, want: Table): Boolean = {
    def bag(t: Table) = t.rows.groupBy(identity).map { case (r, rs) => r -> rs.size }
    got.cols.sameElements(want.cols) && bag(got) == bag(want)
  }

  /** The item KvSink.write makes of a row: column → value.toString, nulls dropped. */
  private def item(r: Row, cols: Array[String]): Map[String, String] =
    cols.zipWithIndex.flatMap { case (c, i) => Option(r.get(i)).map(v => c -> v.toString) }.toMap

  /** The KV store holds exactly the committed rows of both tables. */
  def kvEqualsTables(category: Table, daily: Table): Option[String] = {
    val kvCat = BenchKv.categoryRows
    val kvDay = BenchKv.dailyRows
    val badCat = category.rows.iterator.map(item(_, category.cols))
      .find(i => !kvCat.get((i("category"), i("order_date"))).contains(i))
    val badDay = daily.rows.iterator.map(item(_, daily.cols))
      .find(i => !kvDay.get(i("order_date")).contains(i))
    badCat.map(i => s"KV category row differs for ${i("category")}/${i("order_date")}")
      .orElse(badDay.map(i => s"KV daily row differs for ${i("order_date")}"))
      .orElse(
        if (category.rows.size != kvCat.size || daily.rows.size != kvDay.size)
          Some(s"KV holds ${kvCat.size}/${kvDay.size} rows, the tables ${category.rows.size}/${daily.rows.size}")
        else None)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Order-independent SHA-256 of a frame's rows and column names. */
  def hash(df: DataFrame): (String, Long) = {
    val rows = df.collect().map(r => render(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.columns.mkString("|").getBytes("UTF-8"))
    rows.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    (md.digest().map(x => f"$x%02x").mkString, rows.length.toLong)
  }
}
