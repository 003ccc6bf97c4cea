package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators.Upsert

/** ST1/ST4/ST5/ST7 — the event-driven pipeline as Structured Streaming.
  *
  * The reference is "real-time" by orchestration: S3 file event → Lambda →
  * Glue → Step Function → ECS transform, with KPIs MERGEd into Delta and
  * put into DynamoDB per trigger batch (reference glue_job.py:150-162,
  * transform.py:329-404). Structured Streaming collapses that to: a file
  * source (new file in directory = new data, ST1), micro-batch triggers
  * (ST4), a cumulative streaming aggregation in update mode whose changed
  * rows are upserted per batch (ST5 — [[JointKpis]] maintains both KPI
  * tables this way), and an idempotent keyed sink + the checkpoint's
  * exactly-once file tracking (ST2/ST7).
  */
object StreamingPipeline {

  /** ST1: file-arrival stream — every file that lands in `dir` after the
    * checkpoint becomes new rows, exactly once (the file source's seen-files
    * log replaces the reference's validated/transformed state JSONs,
    * validate.py:328-330, transform.py:432-434).
    */
  def fileStream(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** ST2 (streaming form): drop re-delivered rows by key across
    * micro-batches — `dropDuplicates` over a stream keeps a state-store
    * entry per seen key (the reference's processed-file JSON set,
    * validate.py:328-330, as managed state). Unbounded keys grow state
    * forever, faithful to the reference; compose with `withWatermark`
    * upstream to bound it.
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String]): DataFrame =
    stream.dropDuplicates(keyCols)

  /** ST2, state-bounded form: drop re-delivered keys but keep each key's
    * state-store entry only until the watermark passes its event time —
    * `dropDuplicatesWithinWatermark` guarantees dedup for duplicates whose
    * event times land within the watermark delay of each other, and lets
    * the engine evict everything older. This is the 100 TB default: state
    * is O(distinct keys per watermark window), not O(keys ever seen), so
    * an unbounded stream no longer grows the state store without bound
    * (the failure mode [[dedupStream]] inherits from the reference's
    * never-pruned processed-file set, validate.py:328-330).
    */
  def dedupStreamBounded(stream: DataFrame, keyCols: Seq[String],
                         tsCol: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Crash recovery for [[upsertBatch]]'s rename swap: if a previous run
    * died between "rename current away" and "rename staged in", the table
    * only survives in a `_bak_*` directory — restore the newest one before
    * reading. Makes the swap windows safe: every crash point leaves either
    * the old table, the backup, or the new table recoverable.
    */
  private def recoverBackup(fs: org.apache.hadoop.fs.FileSystem,
                            root: Path, cur: Path): Unit =
    if (!fs.exists(cur) && fs.exists(root)) {
      val baks = fs.listStatus(root)
        .filter(_.getPath.getName.startsWith("_bak_"))
        .sortBy(_.getModificationTime)
      // a false rename would leave no `data/`, and the merge would then
      // commit the batch alone over the backed-up rows
      baks.lastOption.foreach(b => if (!fs.rename(b.getPath, cur))
        throw new java.io.IOException(s"restoring $cur from ${b.getPath} failed"))
    }

  /** Single-writer fencing for the rename-swap tables (VERDICT r04 #4):
    * the swap protocol is crash-safe but NOT multi-writer-safe — two
    * writers interleaving rename(cur, bak)/rename(tmp, cur) can each
    * promote a merge that never saw the other's rows (the reference's
    * Delta MERGE is ACID under concurrent writers, transform.py:331-339;
    * this is the explicit substitute contract). A `_writer_lock` file
    * created with overwrite=false fences: the second writer fails fast
    * with a clear error instead of silently losing updates.
    *
    * A crashed holder can't release, so a found lock is broken when its
    * recorded pid is provably dead on this host (pid gone, or pid
    * recycled — the token records the holder's process START time, so a
    * reused pid number with a different start is still recognized as
    * dead), or — cross-host, where pid liveness is unknowable — when it
    * is older than `staleMs`. A corrupt/truncated token (a holder that
    * crashed mid-write) has no trustworthy host or ts, so its age falls
    * back to the FILE's modification time and the staleness break
    * applies — otherwise an unparseable lock would be unbreakable
    * forever. A live same-host holder is NEVER broken by age (its merge
    * may simply be long; code-review r5). A live same-JVM or fresh
    * foreign lock throws.
    *
    * Breaking is best-effort-atomic: the stale lock is RENAMED to a unique
    * name (on local/HDFS only one breaker's rename succeeds), the renamed
    * file is verified to be the one inspected (a mismatch means a fresh
    * lock raced in — it is renamed back, with retries; a rename-back that
    * still fails LEAVES the file under its broken name so the evidence
    * survives and the displaced holder's nonce-keyed release check can
    * detect the loss — ADVICE r5), and only then is the free path
    * raced for with create(overwrite=false). Release deletes the lock only
    * if it still carries THIS writer's nonce, so a holder whose lock was
    * legitimately broken cannot delete its successor's lock. Without an
    * atomic compare-and-swap primitive a read-check-act window remains on
    * both paths; it needs ≥3 writers racing a dead lock within
    * milliseconds — the documented residual against which the reference's
    * ACID MERGE is the real answer (transform.py:331-339).
    *
    * While the body runs, a daemon HEARTBEAT rewrites the token's `ts`
    * every staleMs/4 (ADVICE r5): cross-host staleness then measures
    * holder LIVENESS, not merge duration, so a healthy foreign merge
    * longer than `staleMs` is no longer broken mid-flight — only a holder
    * whose JVM actually died stops refreshing and ages out. The refresh
    * re-checks ownership (by nonce) before each rewrite; the read→rewrite
    * window against a racing breaker is the same documented residual as
    * acquisition's.
    */
  private[graft] def withWriterLock[A](fs: org.apache.hadoop.fs.FileSystem,
                                       root: Path, staleMs: Long)(body: => A): A = {
    fs.mkdirs(root)
    val lock = new Path(root, "_writer_lock")
    val myPid = ProcessHandle.current().pid()
    val myHost = java.net.InetAddress.getLocalHost.getHostName
    def startMs(h: ProcessHandle): Long =
      h.info().startInstant().map[Long](_.toEpochMilli).orElse(0L)
    val nonce = java.util.UUID.randomUUID().toString
    def tokenNow(): String =
      s"pid=$myPid host=$myHost ts=${System.currentTimeMillis()} " +
        s"start=${startMs(ProcessHandle.current())} nonce=$nonce"
    val token = tokenNow()
    def owned(content: Option[String]): Boolean =
      content.exists(_.contains(s"nonce=$nonce"))
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        out.writeBytes(token + "\n")
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    def readLock(p: Path): Option[String] =
      try {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      } catch { case _: Throwable => None }
    def holderDead(content: String): Boolean = {
      val kv = content.split("\\s+").flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v); case _ => None
      }).toMap
      def num(key: String): Option[Long] =
        kv.get(key).flatMap(v => scala.util.Try(v.toLong).toOption)
      // a parseable host AND ts mark a well-formed token; anything else is
      // a mid-write crash and gets the cross-host staleness treatment
      val wellFormed = kv.contains("host") && num("ts").isDefined
      val sameHost = wellFormed && kv.get("host").contains(myHost)
      val pidDead = num("pid").exists { p =>
        p != myPid && {
          val h = ProcessHandle.of(p)
          if (!h.isPresent) true // pid gone
          else num("start") match {
            // pid RECYCLED: same number, different process start → the
            // recorded holder is dead even though the number is alive
            case Some(rec) if rec > 0 =>
              val actual = startMs(h.get())
              actual > 0 && math.abs(actual - rec) > 1000L
            case _ => !h.get().isAlive
          }
        }
      }
      val age = System.currentTimeMillis() -
        num("ts").getOrElse(
          try fs.getFileStatus(lock).getModificationTime
          catch { case _: Throwable => System.currentTimeMillis() })
      (sameHost && pidDead) || (!sameHost && age > staleMs)
    }
    def tryBreak(inspected: String): Unit = {
      val bak = new Path(root, s"_writer_lock_broken_${java.util.UUID.randomUUID()}")
      val renamed = try fs.rename(lock, bak) catch { case _: Throwable => false }
      if (renamed) {
        if (readLock(bak).contains(inspected)) fs.delete(bak, false)
        else {
          // raced a fresh lock away from its holder: put it back. If the
          // rename-back keeps failing (a third writer re-created the lock
          // in the window), LEAVE the file under its broken name — deleting
          // it would erase the only evidence that the displaced holder lost
          // its lock, while its nonce-keyed release check still detects the
          // loss safely (ADVICE r5).
          var restored = false
          var attempt = 0
          while (!restored && attempt < 5) {
            restored = try fs.rename(bak, lock) catch { case _: Throwable => false }
            attempt += 1
          }
        }
      }
    }
    var acquired = tryAcquire()
    if (!acquired) {
      readLock(lock) match {
        case Some(c) if holderDead(c) => tryBreak(c); acquired = tryAcquire()
        case None => acquired = tryAcquire() // vanished: holder just released
        case _ => ()
      }
    }
    if (!acquired)
      throw new IllegalStateException(
        s"another writer holds $lock — concurrent upserts into $root would " +
          "interleave swaps and lose updates; stop the other writer (or " +
          "remove a stale lock) first")
    // liveness heartbeat: refresh ts while the merge runs so cross-host
    // staleness measures a dead holder, not a long merge (ADVICE r5).
    // `released` is checked right before every rewrite, and RE-checked
    // right after: a heartbeat stuck in an FS call past the join timeout
    // could otherwise resurrect a lock the holder already deleted — an
    // orphan a same-host successor could never break (its pid is this
    // live JVM). The post-write check makes the heartbeat itself undo
    // such a write (code-review r6).
    @volatile var released = false
    val hbPeriod = math.max(staleMs / 4, 1000L)
    val heartbeat = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(hbPeriod)
          if (!released && owned(readLock(lock))) {
            val out = fs.create(lock, true)
            out.writeBytes(tokenNow() + "\n")
            out.close()
            if (released && owned(readLock(lock))) fs.delete(lock, false)
          }
        }
      } catch {
        case _: InterruptedException => ()
        case _: Throwable => () // FS hiccup: stop refreshing; staleness
                                // falls back to the last written ts
      }
    }, s"graft-writer-lock-heartbeat-$nonce")
    heartbeat.setDaemon(true)
    heartbeat.start()
    try body
    finally {
      released = true
      heartbeat.interrupt()
      heartbeat.join(10000)
      if (owned(readLock(lock))) fs.delete(lock, false)
    }
  }

  /** Default staleness for [[withWriterLock]]: with the heartbeat
    * refreshing the token every staleMs/4, 10 minutes of silence means the
    * holder's JVM is gone (or partitioned long past any healthy pause) —
    * not merely that its merge is slow. A deployment overrides it with the
    * Spark conf `spark.graft.writerLock.staleMs` (ADVICE r5).
    */
  private[graft] val LockStaleMs = 10 * 60 * 1000L

  /** The effective lock staleness: the session conf
    * `spark.graft.writerLock.staleMs`, else [[LockStaleMs]].
    */
  private[graft] def resolveStaleMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.writerLock.staleMs")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(LockStaleMs)

  /** ST5/ST7 per-batch sink: keyed upsert of the micro-batch into a parquet
    * table at `targetDir/data`, with a staging-write + rename swap so readers
    * never see a half-written table. Idempotent: re-running a batch after a
    * failure rewrites the same cumulative values for the same keys — the
    * exactly-once recipe (replayable source + idempotent keyed sink, ST7;
    * the reference relies on DynamoDB put idempotency the same way,
    * transform.py:379-387).
    */
  def upsertBatch(targetDir: String, keys: Seq[String])
                 (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(root, "data")
    withWriterLock(fs, root, resolveStaleMs(spark)) {
      recoverBackup(fs, root, cur)
      val merged =
        if (fs.exists(cur)) Upsert.upsert(spark.read.parquet(cur.toString), batch, keys)
        else batch
      val tmp = new Path(root, s"_staging_$batchId")
      merged.write.mode("overwrite").parquet(tmp.toString)
      graft.state.FileState.swapIn(fs, tmp, cur, new Path(root, s"_bak_$batchId"))
    }
  }

  /** [[upsertBatch]] with READER snapshot isolation (VERDICT r05 #3): the
    * merge lands in a fresh `v_<batchId>/` dir and the commit point is one
    * atomic pointer rename ([[graft.state.SnapshotStore]]), so a
    * concurrent reader resolving [[readSnapshot]] can never observe a
    * missing or half-swapped table — the MVCC window the in-place
    * `data/` swap leaves open (recovery there repairs the NEXT writer,
    * not the in-flight reader). Writers stay fenced by the same lock;
    * replayed batch ids are skipped against the committed version, which
    * also keeps the merge idempotent without relying on upsert
    * commutativity.
    */
  def upsertBatchSnapshot(targetDir: String, keys: Seq[String],
                          retainVersions: Int = 2,
                          mergeSchema: Boolean = false)
                         (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, root, resolveStaleMs(spark)) {
      val cur = graft.state.SnapshotStore.currentVersion(fs, root)
      if (!cur.exists(_ >= batchId)) {
        // mergeSchema = Delta autoMerge semantics (schema evolution on
        // write): a batch carrying a never-seen column unions it into the
        // committed schema; committed versions stay pinned (time travel
        // reads each version's own schema), type conflicts reject loudly
        val mergeFn: (DataFrame, DataFrame, Seq[String]) => DataFrame =
          if (mergeSchema) Upsert.upsertEvolve else Upsert.upsert
        val merged = cur match {
          case Some(v) => mergeFn(
            spark.read.parquet(new Path(
              graft.state.SnapshotStore.versionDir(root, v), "data").toString),
            batch, keys)
          case None => batch
        }
        graft.state.SnapshotStore.commit(fs, root, batchId,
          Map("data" -> merged), retainVersions)
      }
    }
  }

  /** Snapshot-isolated read of a table maintained by
    * [[upsertBatchSnapshot]] — current version, or any retained batch id
    * via `versionAsOf`.
    */
  def readSnapshot(spark: SparkSession, targetDir: String,
                   versionAsOf: Option[Long] = None): DataFrame =
    graft.state.SnapshotStore.read(spark, targetDir, "data", versionAsOf)

  /** Partition-aware keyed upsert with READER snapshot isolation — the
    * partition-manifest commit ([[graft.state.ManifestStore]]): only the
    * partitions the micro-batch touches are read, merged and written, so
    * per-batch write cost is O(touched partitions) (untouched partitions
    * are inherited by manifest reference, never copied); readers resolve
    * one atomic pointer, and a manifest referencing more than
    * `maxManifestVersions` versions triggers a compacting full rewrite so
    * reader fan-in stays bounded. Same single-writer lock and replay gate
    * as [[upsertBatchSnapshot]].
    *
    * Precondition: a key's partition value is stable across updates (the
    * usual case — the partition column is derived from the key, e.g. the
    * day of an event date). An update that MOVED a key to a different
    * partition would insert it there while the old partition (untouched by
    * the batch) still holds the stale row; use [[upsertBatchSnapshot]]
    * when keys can migrate.
    */
  def upsertPartitionedBatchSnapshot(targetDir: String, keys: Seq[String],
                                     partitionCol: String,
                                     maxManifestVersions: Int = 16,
                                     retentionMs: Long = 10 * 60 * 1000L,
                                     mergeSchema: Boolean = false)
                                    (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, root, resolveStaleMs(spark)) {
      if (!graft.state.SnapshotStore.currentVersion(fs, root).exists(_ >= batchId))
        // evolution composes with the manifest layout for free: the new
        // version's schema file carries the union, and readManifested
        // reads every inherited (untouched, older-schema) partition group
        // with that pinned schema — parquet fills the missing column with
        // nulls; versionAsOf reads stay pinned to their own schema file
        graft.state.ManifestStore.commitPartitioned(spark, root, batchId,
          batch, keys, partitionCol,
          if (mergeSchema) Upsert.upsertEvolve else Upsert.upsert,
          maxManifestVersions, retentionMs)
    }
  }

  /** Snapshot-isolated read of a table maintained by
    * [[upsertPartitionedBatchSnapshot]] — current version, or any
    * still-resolvable batch id via `versionAsOf`.
    */
  def readPartitionedSnapshot(spark: SparkSession, targetDir: String,
                              versionAsOf: Option[Long] = None): DataFrame =
    graft.state.ManifestStore.read(spark, targetDir, versionAsOf)
}
