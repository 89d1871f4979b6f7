package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, Metadata, StructType}

/** The one handle every append-only parquet writer holds: each table
  * of the warehouse sink ([[IncrementalSink]]) and every store (the
  * sketch stores, [[KmvStore]], [[DfStore]], [[ChecksumStore]],
  * [[NoveltyStore]], [[LshIndex]], [[WinnowIndex]], the fingerprint
  * stores). It is opened on a directory and the name its errors use,
  * plus the partition columns the data is laid out by and the shape
  * metadata the store stamps on one column (`stamp`: column → shape
  * keys and values, e.g. `cnt` → `cm_width`, `cm_depth`). These
  * operations are the whole durability discipline, so no store
  * re-grows a copy of it:
  *
  *  - [[exists]]: committed data under a `_SUCCESS` job-commit marker,
  *    THROWING on a torn append and in every crash window of
  *    [[compact]];
  *  - [[read]]: the rows, with the schema read on the driver from one
  *    data file's footer, so no job infers it, and the stamp checked
  *    against that schema;
  *  - [[append]]: gated first, so in a crash window it throws instead
  *    of creating a fresh committed directory beside `.compact_old`
  *    (whose rows the next heal would then discard); refuses a shape
  *    mismatch before any byte lands; writes stamped and partitioned;
  *  - [[compact]]: the temp-write-then-verified-swap rewrite, which
  *    heals any crash window of a previous run first.
  *
  * Renames are treated as what `FileSystem.rename` is on HDFS: an
  * operation that reports most failures by RETURNING FALSE, not by
  * throwing.
  */
private[graft] final class ParquetStore(spark: SparkSession, dir: String,
    what: String, partCols: Seq[String] = Nil,
    stamp: Option[(String, Metadata)] = None) {
  import ParquetStore._

  private val store = new Path(dir)
  private val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val tmp = new Path(dir + ".compact_tmp")
  private val old = new Path(dir + ".compact_old")

  /** True iff the directory holds committed data: data files under a
    * `_SUCCESS` job-commit marker. Data without the marker (a writer
    * died between task commit and job commit) FAILS loudly — reading
    * partial state would silently shift results. A crashed compact
    * leaves `.compact_old`; that heals by re-running compact, and the
    * error says so. */
  def exists: Boolean =
    if (!fs.exists(store)) {
      if (fs.exists(old)) throw new IllegalStateException(
        s"$what $dir missing but $old exists — a compact() " +
          "crashed mid-swap; call compact() to heal before reading")
      false
    } else {
      val entries = fs.listStatus(store).filter(visible)
      val committed = entries.nonEmpty &&
        fs.exists(new Path(store, "_SUCCESS"))
      if (committed) true
      else if (fs.exists(old)) throw new IllegalStateException(
        // an uncommitted (or empty) live copy BESIDE old is the
        // post-swap verification-failure window: the real data is at
        // old, and reporting "store empty" here would let a reader
        // silently see nothing while the last complete copy waits —
        // compact() restores it
        s"$what $dir is uncommitted but $old exists — a " +
          "compact() crashed mid-swap; call compact() to heal before " +
          "reading")
      else if (entries.isEmpty) false
      else throw new IllegalStateException(
        s"$what $dir has data files but no _SUCCESS marker " +
          "— a prior append crashed before job commit; rebuild the " +
          "store (delete the directory and re-ingest) rather than " +
          "reading partial state")
    }

  /** Whether [[compact]] has anything to keep: a non-empty directory
    * or a crashed compact's `.compact_old` copy. Unlike [[exists]] it
    * never throws, so a maintenance pass can find the stores to heal. */
  def present: Boolean = fs.exists(old) ||
    fs.exists(store) && fs.listStatus(store).nonEmpty

  /** The stored rows, or `empty` before the first committed write.
    * The schema is the one a data file's footer carries, read on the
    * driver: no job infers it. Partition columns are still discovered
    * from the paths. A store built at another shape fails here. */
  def read(empty: => DataFrame): DataFrame =
    if (!exists) empty
    else {
      val df = footerSchema.fold(spark.read)(spark.read.schema).parquet(dir)
      checkShape(df.schema)
      df
    }

  /** Append `df`, stamped. Throws in a crash window (the gate), and on
    * a shape mismatch or a missing partition column before any byte is
    * written. */
  def append(df: DataFrame): Unit = {
    if (exists && stamp.nonEmpty) footerSchema.foreach(checkShape)
    write(df, SaveMode.Append)
  }

  /** Replace the directory's contents with `df` (a full refresh). */
  def overwrite(df: DataFrame): Unit = write(df, SaveMode.Overwrite)

  /** Partitioned write when the store has partition columns. A declared
    * partition column MISSING from the frame fails loudly: silently
    * writing unpartitioned files into a partitioned directory corrupts
    * its layout (mixed root-level and `col=.../` files break partition
    * discovery on the next read). */
  private def write(df: DataFrame, mode: SaveMode): Unit = {
    val missing = partCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$what declares partition columns $partCols but the frame lacks $missing")
    val w = stamped(df).write.mode(mode)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(dir)
  }

  private def stamped(df: DataFrame): DataFrame = stamp.fold(df) {
    case (c, meta) => df.withColumn(c, col(c).as(c, meta))
  }

  /** Refuse a store whose stamp column was built at another shape. */
  private def checkShape(schema: StructType): Unit = stamp.foreach {
    case (c, meta) =>
      val want = shape(meta)
      val stored = schema.find(_.name == c).map(f => shape(f.metadata).toMap)
        .getOrElse(Map.empty[String, Any])
      val built = want.flatMap { case (k, _) => stored.get(k).map(k -> _) }
      def show(kv: Seq[(String, Any)]) =
        kv.map { case (k, v) => s"$k=$v" }.mkString(", ")
      require(built.isEmpty || built == want,
        s"$what $dir was built at ${show(built)} but opened at " +
          s"${show(want)} — open with the build shape")
  }

  /** The Spark schema the data was written with, read on the driver
    * from one data file's footer (Spark's own footer inference runs a
    * job for this); None when there is no data file or its footer
    * carries no Spark schema. */
  private def footerSchema: Option[StructType] = {
    def firstFile(p: Path): Option[Path] =
      fs.listStatus(p).iterator.filter(visible).map { s =>
        if (s.isDirectory) firstFile(s.getPath)
        else Some(s.getPath).filter(_.getName.endsWith(".parquet"))
      }.collectFirst { case Some(f) => f }
    (if (fs.exists(store)) firstFile(store) else None).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f,
        spark.sparkContext.hadoopConfiguration))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      finally r.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Rewrite the accumulated per-batch appends of `rows` (the store's
    * merge-on-compact frame, or its rows as stored) into few SIZED
    * files (`ceil(bytes / 128 MiB)` — a single-task `coalesce(1)`
    * rewrite would both serialize the job and emit one giant file). A
    * store with partition columns is co-partitioned by them and
    * rewritten with the same `partitionBy` layout, so each task writes
    * few directories and partition pruning survives. The compacted copy
    * goes to a TEMP directory off the live store, then swaps in with
    * two VERIFIED renames; `old` (the last complete copy until the swap
    * proves itself) is only deleted once the live path exists and holds
    * committed parquet files (at any depth — partition directories
    * count). Crash windows self-heal on the next call, before `rows` is
    * evaluated: stale `.compact_tmp` → deleted; `.compact_old` with the
    * store missing (died between renames) or uncommitted → old
    * restored; `.compact_old` beside a committed store → leftover
    * deleted. With `skipIfCompact`, for a store whose `rows` are its
    * rows as stored (a merge-on-compact store rewrites to merge rows,
    * so it never skips), a committed store the rewrite could not shrink
    * (at most `ceil(bytes / 128 MiB)` files, or one file per partition
    * directory) is left unread and returns (n, n). Returns (files
    * before, files after). */
  def compact(rows: => DataFrame, skipIfCompact: Boolean = false)
      : (Long, Long) = {
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
      val merged = stamped(rows)
      val w =
        if (partCols.isEmpty) merged.repartition(nFiles).write
        else merged.repartition(nFiles, partCols.map(col): _*).write
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

private object ParquetStore {

  /** Size one compacted file aims for. */
  private val TargetFileBytes = 128L << 20

  private def visible(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** A column's metadata as ordered (key, value) pairs. */
  private def shape(m: Metadata): Seq[(String, Any)] =
    org.json4s.jackson.JsonMethods.parse(m.json) match {
      case org.json4s.JObject(fields) => fields.map { case (k, v) => k -> v.values }
      case _ => Nil
    }
}
