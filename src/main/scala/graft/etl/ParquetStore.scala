package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared durability discipline for append-only parquet STORES (the
  * novelty shingle store, the LSH signature index): `_SUCCESS`-gated
  * validity, and the temp-path-then-verified-swap compaction whose
  * rename handling treats `FileSystem.rename` as what it is on HDFS —
  * an operation that reports most failures by RETURNING FALSE, not by
  * throwing. Every store and the warehouse sink ([[IncrementalSink]])
  * share this one audited copy of the crash-window logic instead of
  * re-growing their own.
  */
private[etl] object ParquetStore {

  def hfs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff the store directory holds committed data: data files
    * under a `_SUCCESS` job-commit marker. Data without the marker
    * (a writer died between task commit and job commit) FAILS loudly —
    * reading partial state would silently shift results. A crashed
    * compact leaves `.compact_old`; that heals by re-running compact,
    * and the error says so. `what` names the component in messages. */
  def gatedExists(spark: SparkSession, storeDir: String,
      what: String): Boolean = {
    val d = new Path(storeDir)
    val fs = hfs(spark, d)
    val old = new Path(storeDir + ".compact_old")
    if (!fs.exists(d)) {
      if (fs.exists(old)) throw new IllegalStateException(
        s"$what $storeDir missing but $old exists — a compact() " +
          "crashed mid-swap; call compact() to heal before reading")
      false
    } else {
      val entries = fs.listStatus(d).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      val committed = entries.nonEmpty && fs.exists(new Path(d, "_SUCCESS"))
      if (committed) true
      else if (fs.exists(old)) throw new IllegalStateException(
        // an uncommitted (or empty) live copy BESIDE old is the
        // post-swap verification-failure window: the real data is at
        // old, and reporting "store empty" here would let a reader
        // silently see nothing while the last complete copy waits —
        // compact() restores it
        s"$what $storeDir is uncommitted but $old exists — a " +
          "compact() crashed mid-swap; call compact() to heal before " +
          "reading")
      else if (entries.isEmpty) false
      else throw new IllegalStateException(
        s"$what $storeDir has data files but no _SUCCESS marker " +
          "— a prior append crashed before job commit; rebuild the " +
          "store (delete the directory and re-ingest) rather than " +
          "reading partial state")
    }
  }

  /** The Spark schema `dir`'s data was written with, read on the
    * driver from one data file's footer (Spark's own footer inference
    * runs a job for this); None when there is no data file or its
    * footer carries no Spark schema. */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val fs = hfs(spark, new Path(dir))
    def visible(s: FileStatus) = !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")
    def firstFile(p: Path): Option[Path] =
      fs.listStatus(p).iterator.filter(visible).map { s =>
        if (s.isDirectory) firstFile(s.getPath)
        else Some(s.getPath).filter(_.getName.endsWith(".parquet"))
      }.collectFirst { case Some(f) => f }
    val d = new Path(dir)
    (if (fs.exists(d)) firstFile(d) else None).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f,
        spark.sparkContext.hadoopConfiguration))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      finally r.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Size one compacted file aims for. */
  private val TargetFileBytes = 128L << 20

  /** Rewrite the accumulated per-batch appends into few SIZED files
    * (`ceil(bytes / 128 MiB)` — a single-task `coalesce(1)` rewrite
    * would both serialize the job and emit one giant file). A table
    * with `partCols` is co-partitioned by them and rewritten with the
    * same `partitionBy` layout, so each task writes few directories
    * and partition pruning survives. The compacted copy goes to a TEMP
    * directory off the live store, then swaps in with two VERIFIED
    * renames; `old` (the last complete copy until the swap proves
    * itself) is only deleted once the live path exists and holds
    * committed parquet files (at any depth — partition directories
    * count). Crash windows self-heal on the next call: stale
    * `.compact_tmp` → deleted; `.compact_old` with the store missing
    * (died between renames) → old restored; `.compact_old` beside a
    * live store → leftover deleted. With `skipIfCompact`, for a store
    * whose `read` is its rows as stored (a merge-on-compact store
    * rewrites to merge rows, so it never skips), a committed store the
    * rewrite could not shrink (at most `ceil(bytes / 128 MiB)` files,
    * or one file per partition directory) is left unread and returns
    * (n, n). Returns (files before, files after). */
  def compact(spark: SparkSession, storeDir: String, read: => DataFrame,
      partCols: Seq[String] = Nil, skipIfCompact: Boolean = false)
      : (Long, Long) = {
    val store = new Path(storeDir)
    val fs = hfs(spark, store)
    val tmp = new Path(storeDir + ".compact_tmp")
    val old = new Path(storeDir + ".compact_old")
    def parquetFiles(p: Path): Seq[FileStatus] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) parquetFiles(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s)
        else Nil
      }
    // committed = _SUCCESS marker plus at least one parquet data file
    def committed(p: Path): Boolean =
      fs.exists(new Path(p, "_SUCCESS")) && parquetFiles(p).nonEmpty
    // heal any crash window of a previous run (see scaladoc)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) {
      // a store that exists but is not committed is the post-swap
      // verification-failure window whose message promised the previous
      // copy stays at old — deleting old here would lose that copy.
      if (!fs.exists(store)) { // mid-swap crash: restore the last copy
        if (!fs.rename(old, store)) throw new java.io.IOException(
          s"compact: healing rename $old -> $store failed; the last " +
            "complete copy is still at the .compact_old path")
      } else if (committed(store)) {
        fs.delete(old, true) // post-swap crash: store is live and whole
      } else { // store present but uncommitted: old IS the live data
        fs.delete(store, true)
        if (!fs.rename(old, store)) throw new java.io.IOException(
          s"compact: healing rename $old -> $store failed; the last " +
            "complete copy is still at the .compact_old path")
      }
    }
    val before = parquetFiles(store)
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1L,
      (totalBytes + TargetFileBytes - 1) / TargetFileBytes).toInt
    // the rewrite writes nFiles files, or one per partition directory
    // (each partition value hashes to one task)
    val alreadyCompact = skipIfCompact && before.nonEmpty &&
      fs.exists(new Path(store, "_SUCCESS")) && (
        if (partCols.isEmpty) before.size <= nFiles
        else before.groupBy(_.getPath.getParent).values.forall(_.size == 1))
    if (alreadyCompact) (before.size.toLong, before.size.toLong)
    else {
      val w =
        if (partCols.isEmpty) read.repartition(nFiles).write
        else read.repartition(nFiles, partCols.map(col): _*).write
          .partitionBy(partCols: _*)
      w.mode(SaveMode.Overwrite).parquet(tmp.toString)
      def renameOrDie(src: Path, dst: Path): Unit =
        if (!fs.rename(src, dst)) throw new java.io.IOException(
          s"compact: rename $src -> $dst failed (FileSystem returned " +
            "false); store left in a self-healing state — re-run compact()")
      if (fs.exists(store)) renameOrDie(store, old)
      renameOrDie(tmp, store)
      val after = parquetFiles(store)
      if (!fs.exists(new Path(store, "_SUCCESS")) || after.isEmpty)
        throw new IllegalStateException(
          s"compact: post-swap verification failed — $store lacks " +
            "committed parquet files; previous copy preserved at " +
            s"$old for healing")
      if (fs.exists(old)) fs.delete(old, true)
      (before.size.toLong, after.size.toLong)
    }
  }
}
