package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Output sinks with the reference's three write modes
  * (`README.md:112-114`, `src/bq_loader.py:139-142`):
  * append-only logs, latest-wins upsert, full truncate-rebuild.
  *
  * The warehouse is plain Parquet (the reference's own stated migration
  * path away from BigQuery). Upsert without a transactional table format
  * is read-union-dedup-rewrite: correct and idempotent, one shuffle on
  * the key. On a real lakehouse swap `upsertParquet` for a MERGE INTO.
  */
object Sinks {

  /** S5-append: append-only fact log. */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** S7: truncate-load (WRITE_TRUNCATE analogue). */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Materialize `df` at `path` safely even when `df`'s lineage READS from
    * `path`: write to a sibling temp directory first, then swap via rename.
    * The round-1 cache()+overwrite pattern could lose the table — cache
    * eviction or executor loss mid-overwrite recomputes the plan against
    * already-deleted source files. Rename is atomic on HDFS/local FS; on an
    * object store swap this for a transactional table format's commit.
    */
  private[graft] def writeSwap(df: DataFrame, path: String): Unit =
    writeSwapWith(df.sparkSession, path)(
      tmp => df.write.mode("overwrite").parquet(tmp))

  /** The swap dance with a caller-supplied writer (flat, partitioned,
    * bucketed — anything that materializes a directory at the tmp path).
    *
    * Crash recovery on entry, BEFORE any delete: (a) a previous run that
    * died between its two renames left the live table only at `.__old__`
    * — restore it first (the writer's lineage may read `path`, and the
    * salvage below needs a live tree to land in); (b) a leftover
    * `.__swap__` from a crashed `KeyedStore.compact` may hold carried
    * `batch_<id>` dirs that are the ONLY copy of a checkpoint-
    * acknowledged micro-batch (the carry-over RENAMES them out of the
    * live tree before the swap) — those are renamed back into the live
    * tree instead of deleted with the rest of the failed fold (the live
    * tree still holds everything the fold itself read, so only the
    * carried batches need rescue; a dir the live tree re-acquired via
    * replay is skipped, its rows are identical by the pure-function
    * contract).
    */
  private[graft] def writeSwapWith(spark: SparkSession, path: String)
                                  (doWrite: String => Unit): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__swap__")
    val old = new org.apache.hadoop.fs.Path(path + ".__old__")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Hadoop rename signals failure by RETURNING false, not throwing
    // (cross-device local renames, dst-parent anomalies): every return
    // must be checked, or a failed swap would fall through to a delete
    // and remove the only remaining copy of the table.
    def renameOrDie(src: org.apache.hadoop.fs.Path,
                    dst: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"rename $src -> $dst failed; previous table left intact at $old")
    if (fs.exists(old) && !fs.exists(target)) renameOrDie(old, target)
    if (fs.exists(tmp)) {
      if (fs.exists(target)) fs.listStatus(tmp).foreach { e =>
        val n = e.getPath.getName
        if (e.isDirectory && n.matches("batch_\\d+") &&
            fs.exists(new org.apache.hadoop.fs.Path(e.getPath, "_SUCCESS")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(target, n)))
          renameOrDie(e.getPath, new org.apache.hadoop.fs.Path(target, n))
      }
      fs.delete(tmp, true)
    }
    doWrite(tmp.toString)
    // two renames, never delete-before-replace: a crash between them
    // leaves the previous table recoverable at `.__old__` instead of
    // gone — data is only deleted after the new table is in place.
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target)) renameOrDie(target, old)
    renameOrDie(tmp, target)
    fs.delete(old, true); ()
  }

  /** Read the current table at `path`, or None when it does not exist
    * yet. ONLY a missing path means "first write" — any other failure
    * (corrupt footer, transient IO) must propagate: swallowing it would
    * make the merge rebuild from the batch alone and silently drop the
    * table's history.
    */
  private[graft] def readExisting(spark: SparkSession, path: String,
                                  cols: Seq[String]): Option[DataFrame] =
    readExistingAny(spark, path)
      .map(_.select(cols.map(org.apache.spark.sql.functions.col): _*))

  /** [[readExisting]] without a column contract — for callers that must
    * inspect what columns an existing table HAS before deciding how to
    * read it (the KeyedStore legacy-tombstone migration: a pre-stamp
    * layout lacks `forgotten_at_ms`, and a column-selecting read would
    * fail with an unresolved-column error instead of None).
    */
  private[graft] def readExistingAny(spark: SparkSession,
                                     path: String): Option[DataFrame] = {
    // probe first: a read of a missing path fails only after Spark's
    // metadata lookup has logged the FileNotFoundException as a WARN
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path))
    else None
  }

  /** S5-upsert: idempotent latest-wins upsert by key — the Mongo
    * `UpdateOne(upsert=True)` analogue. Re-running with the same batch
    * changes nothing.
    */
  def upsertParquet(spark: SparkSession, batch: DataFrame, path: String,
                    keys: Seq[String], order: Seq[Column]): Unit = {
    val existing = readExisting(spark, path, batch.columns.toSeq)
    val merged = existing match {
      case Some(old) =>
        graft.operators.Dedup.latestWins(old.unionByName(batch), keys, order)
      case None => batch
    }
    writeSwap(merged, path)
  }

  /** Key-replace merge: delete existing rows whose key tuple the batch
    * carries, insert the batch — `MERGE ... WHEN MATCHED THEN UPDATE` for
    * authoritative rows. Unlike `upsertParquet`, incoming rows are not
    * candidate versions to order among: every incoming key tuple replaces
    * all of its existing rows.
    */
  def replaceKeysParquet(spark: SparkSession, batch: DataFrame, path: String,
                         keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val existing = readExisting(spark, path, batch.columns.toSeq)
    val merged = existing match {
      case Some(old) =>
        // null-safe anti join: a name-based join uses plain equality, so
        // existing rows with a null key column would never match a batch
        // key and could never be replaced
        val dk = batch.select(keys.map(c => col(c).as(s"__dk_$c")): _*).distinct()
        val cond = keys.map(c => col(c) <=> col(s"__dk_$c")).reduce(_ && _)
        old.join(dk, cond, "left_anti")
          .unionByName(batch)
      case None => batch
    }
    writeSwap(merged, path)
  }

  /** S6: single-file CSV report sink. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Date-partitioned fact layout: one directory per partition value, so
    * date-ranged queries prune at the file listing (PartitionFilters in
    * the scan) — the default physical layout for 100 TB fact tables.
    */
  def writeDatePartitioned(df: DataFrame, path: String, dateCol: String): Unit =
    df.write.mode("overwrite").partitionBy(dateCol).parquet(path)

  /** Bucketed managed tables: co-locates both sides of a recurring
    * equi-join at write time; joins between tables bucketed by the same
    * key and count run with NO shuffle exchange on either side.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }
}
