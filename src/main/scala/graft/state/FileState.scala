package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** ST2 (batch form) — processed-file bookkeeping.
  *
  * The reference keeps `validated_files_state.json` /
  * `transformed_files_state.json` on S3 and diffs python sets to decide what
  * still needs work (reference containers/validation/validate.py:145-170,
  * 328-330; containers/transformation/transform.py:193-214, 432-434). Here
  * the state is a tiny parquet table of paths and the diff is a distributed
  * `except` — same semantics (exactly-once per file, idempotent re-runs),
  * no driver-side set, works at any file count.
  */
object FileState {

  val schema: StructType = StructType(Seq(StructField("path", StringType)))

  private def bakPath(p: Path) = new Path(p.getParent, s".${p.getName}_bak")

  /** Load the processed-file set; empty if never saved. A missing state
    * file with a backup present means a save() crashed mid-swap — restore
    * the backup first. The filesystem metadata calls and the footer read
    * are retried with backoff (the reference decorates its S3 state reads
    * the same way, validate.py:84-104).
    */
  def load(spark: SparkSession, statePath: String): DataFrame =
    graft.util.Retry.withBackoff() {
      val p = new Path(statePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p) && fs.exists(bakPath(p)) && !fs.rename(bakPath(p), p))
        throw new java.io.IOException(s"restoring $p from ${bakPath(p)} failed")
      if (fs.exists(p)) spark.read.schema(schema).parquet(statePath)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Files that still need processing: arrived − processed
    * (transform.py:434 `validated_files - transformed_files`).
    */
  def pending(arrived: DataFrame, processed: DataFrame): DataFrame =
    arrived.select("path").except(processed.select("path"))

  /** New state after a successful run: processed ∪ done, deduped
    * (validate.py:350-352 adds the batch to the state set).
    */
  def markProcessed(processed: DataFrame, done: DataFrame): DataFrame =
    processed.select("path").unionByName(done.select("path")).distinct()

  /** Persist the state table (tiny) through [[swapIn]]: every crash point
    * leaves either the previous state or a backup that [[load]] restores —
    * delete-then-rename would have a window losing the state entirely
    * (code-review r3).
    */
  def save(state: DataFrame, statePath: String): Unit = {
    val spark = state.sparkSession
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s".${p.getName}_staging")
    state.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    swapIn(fs, tmp, p, bakPath(p))
  }

  /** The rename swap shared by [[save]] and
    * [[graft.streaming.StreamingPipeline.upsertBatch]]: move `cur` (if
    * any) to `bak`, move the fully written `staged` dir to `cur`, drop
    * `bak`. `FileSystem.rename` reports failure by returning false, and
    * `bak` is the only committed copy once `cur` has moved, so a false
    * rename throws BEFORE anything is deleted — after first moving the
    * backup back to `cur`, so readers keep the previous table (if that
    * move fails too, the backup stays for the caller's recovery).
    */
  private[graft] def swapIn(fs: FileSystem, staged: Path, cur: Path,
                            bak: Path): Unit = {
    def fail(from: Path, to: Path) =
      throw new java.io.IOException(s"rename $from -> $to failed; nothing was deleted")
    if (fs.exists(cur)) {
      fs.delete(bak, true) // a backup left by a swap that completed
      if (!fs.rename(cur, bak)) fail(cur, bak)
    }
    if (!fs.rename(staged, cur)) {
      if (fs.exists(bak) && !fs.exists(cur)) fs.rename(bak, cur)
      fail(staged, cur)
    }
    fs.delete(bak, true)
  }
}
