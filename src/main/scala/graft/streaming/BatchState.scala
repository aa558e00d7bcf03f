package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The batch-keyed state layout every `foreachBatch` sink here persists
  * through — the one place its rules are spelled out.
  *
  * ==Layout==
  * A state or output directory holds one `batch_id=N` partition per
  * micro-batch, plus optional flat files at its root: the BOOTSTRAP (a
  * hand-built index such as a `Corpus.substringDigestIndex` rebuild, or
  * the output of offline compaction), which every read treats as
  * always-visible prior state. Reads select leaf paths explicitly (no
  * Hive partition discovery), so flat and batch-keyed files coexist.
  * State comes in two shapes:
  *  - APPEND state (the admission indexes): each batch writes only its
  *    delta, so [[readAppend]] unions every earlier batch plus the
  *    bootstrap;
  *  - SNAPSHOT state (pack fill, materialize fill/tail): each batch
  *    writes the COMPLETE state stamped with an `as_of_batch` column, so
  *    [[readSnapshot]] reads the latest visible partition alone —
  *    O(state) per batch, never the O(batches · state) union — else the
  *    bootstrap, and drops the stamp.
  *
  * ==Delivery guarantee==
  * Every write overwrites its own batch's partition and every state read
  * sees only strictly-earlier batches (`batch_id < N`). So an
  * at-least-once replay of batch N (a crash between the writes and the
  * streaming checkpoint commit) (a) sees EXACTLY the state the first
  * attempt saw — its own partial writes are invisible to the read — and
  * recomputes identical decisions, and (b) OVERWRITES its own earlier
  * partial output instead of appending beside it. Net: effectively-once
  * on plain parquet, no transactional table format required; output
  * readers never see duplicate or contradictory rows for a doc.
  *
  * Restart caveat: resuming a stream from its checkpoint is seamless,
  * but a FRESH checkpoint restarts batch ids at 0, which would hide
  * every batch-keyed row. Compact such state into the flat bootstrap
  * first ([[compactAppend]] / [[compactSnapshot]], offline).
  */
private[graft] object BatchState {

  private val Key = "batch_id="

  /** The provenance column snapshot state carries on disk. */
  private val AsOf = "as_of_batch"

  private def partition(path: String, batchId: Long): String =
    s"$path/$Key$batchId"

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val (fs, p) = (fileSystem(spark, path), new Path(path))
    if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
  }

  private def batchOf(s: FileStatus): Option[Long] = {
    val n = s.getPath.getName
    if (s.isDirectory && n.startsWith(Key)) n.drop(Key.length).toLongOption
    else None
  }

  /** The latest batch id visible to `batchId` (Long.MaxValue: latest on
    * disk), or None when only the flat bootstrap (or nothing) exists. */
  private def latestVisible(spark: SparkSession, path: String,
      batchId: Long): Option[Long] =
    listing(spark, path).flatMap(batchOf).filter(_ < batchId).maxOption

  /** APPEND read: rows written by batches STRICTLY BEFORE `batchId` plus
    * the flat bootstrap. `empty` (the state schema) only when the
    * directory is absent or holds no data files — a transient read
    * failure on existing state FAILS the micro-batch rather than
    * silently resetting the index and re-admitting duplicates. */
  def readAppend(spark: SparkSession, path: String, empty: DataFrame,
      batchId: Long): DataFrame = {
    val all = listing(spark, path)
    val paths = (all.filter(batchOf(_).exists(_ < batchId)) ++
      all.filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }).map(_.getPath.toString)
    if (paths.isEmpty) empty
    else spark.read.schema(empty.schema).parquet(paths: _*)
  }

  /** One batch's partition as written (output readers). */
  def readBatch(spark: SparkSession, path: String, batchId: Long)
      : DataFrame =
    spark.read.parquet(partition(path, batchId))

  /** A flat, out-of-band directory (the suite vocab), or `empty` when
    * none has been written yet. */
  def readFlat(spark: SparkSession, path: String, empty: DataFrame)
      : DataFrame =
    try spark.read.schema(empty.schema).parquet(path)
    catch { case _: org.apache.spark.sql.AnalysisException => empty }

  /** The partition of every dir at the snapshot id the FIRST dir's latest
    * visible partition names, or None when it has only the bootstrap.
    * The dirs are one paired write, so the other dirs are read at
    * exactly that id, never at their own latest (a batch whose state
    * emptied still writes its zero-row partition, but after a crash
    * between the writes an older partition must not pair with a newer
    * one). A missing partition therefore marks a TORN pair and raises:
    * the stream's own replay heals it, a snapshot read or compaction
    * must not. */
  private def snapshotAt(spark: SparkSession, batchId: Long,
      dirs: Seq[String]): Option[Seq[String]] =
    latestVisible(spark, dirs.head, batchId).map { b =>
      val parts = dirs.map(partition(_, b))
      val fs = fileSystem(spark, dirs.head)
      parts.tail.find(p => !fs.exists(new Path(p))).foreach { p =>
        throw new java.io.IOException(
          s"torn snapshot: ${parts.head} has no paired partition $p — " +
            "resume the stream once so its replay rewrites both")
      }
      parts
    }

  /** SNAPSHOT read of one or more paired dirs (see [[snapshotAt]]), each
    * given with its unstamped state schema; returns the frames in the
    * same order with the stamp dropped. */
  def readSnapshot(spark: SparkSession, batchId: Long,
      dirs: (String, DataFrame)*): Seq[DataFrame] = {
    val at = snapshotAt(spark, batchId, dirs.map(_._1))
    dirs.zipWithIndex.map { case ((path, empty), i) =>
      val stamped = empty.withColumn(AsOf, lit(0L))
      (at match {
        case Some(parts) =>
          spark.read.schema(stamped.schema).parquet(parts(i))
        case None => readAppend(spark, path, stamped, 0L) // bootstrap
      }).drop(AsOf)
    }
  }

  /** Overwrite this batch's partition — the replay-idempotent append. */
  def write(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(partition(path, batchId))

  /** [[write]] for snapshot state: stamps `as_of_batch`. */
  def writeSnapshot(df: DataFrame, path: String, batchId: Long): Unit =
    write(df.withColumn(AsOf, lit(batchId)), path, batchId)

  /** Replace `path` with `rows` written flat — write-tmp → delete →
    * rename, not atomic under concurrent writers: run OFFLINE. A crash
    * between delete and rename leaves the rows at `path.compact.tmp` to
    * recover by hand. */
  private def rewriteFlat(spark: SparkSession, path: String,
      rows: DataFrame): Unit = {
    val (p, tmp) = (new Path(path), new Path(path + ".compact.tmp"))
    val fs = fileSystem(spark, path)
    rows.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"compaction: rename $tmp -> $p failed; state preserved at $tmp")
  }

  /** Offline compaction of APPEND state: every row, flattened into the
    * bootstrap. */
  def compactAppend(spark: SparkSession, path: String,
      empty: DataFrame): Unit =
    if (fileSystem(spark, path).exists(new Path(path)))
      rewriteFlat(spark, path, readAppend(spark, path, empty, Long.MaxValue))

  /** Offline compaction of SNAPSHOT state (one dir or a paired group, as
    * [[readSnapshot]] takes them): the latest snapshot alone, re-based to
    * `as_of_batch = -1` — the bootstrap marker every restarted batch id
    * outranks. Keeping older batches' rows, or their stamps, would let
    * stale pre-restart state win over the restarted ids. A torn pair
    * raises rather than flattening a missing partition to EMPTY. */
  def compactSnapshot(spark: SparkSession,
      dirs: (String, DataFrame)*): Unit =
    snapshotAt(spark, Long.MaxValue, dirs.map(_._1)).foreach { parts =>
      dirs.zip(parts).foreach { case ((path, empty), part) =>
        val stamped = empty.withColumn(AsOf, lit(0L))
        rewriteFlat(spark, path, spark.read.schema(stamped.schema)
          .parquet(part).withColumn(AsOf, lit(-1L)))
      }
    }

  /** A `foreachBatch` sink running `body`, which RELEASES the
    * localCheckpoint blocks the batch created on the way out. Sinks (and
    * the incremental operators they call) checkpoint bounded per-batch
    * intermediates — the foreachBatch persist-the-batch idiom — but a
    * checkpoint block lives until driver GC lets ContextCleaner collect
    * it, so on a long-running stream the blocks pile up across batches
    * and the storage/GC pressure lands on unrelated work. Everything a
    * batch checkpoints is consumed by its own writes, so the blocks are
    * dead at exit; unpersist them (non-blocking). Scoped by RDD-id
    * snapshot, so checkpoints the CALLER holds are never touched. */
  def sink(body: (SparkSession, DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body(spark, batch, batchId)
    finally spark.sparkContext.getPersistentRDDs.foreach {
      case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
