package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, length, lit, max, when}

/** The storage an insert-if-absent load lands in: the parquet warehouse
  * sink ([[graft.etl.IncrementalSink]]) and [[JdbcSink]] differ only
  * here. */
trait KeyedStore {
  /** True iff the table exists; a missing table is created by the
    * first append. */
  def exists: Boolean
  /** Key-only read of the stored keys: one column, `pkCol`. */
  def keys(pkCol: String): DataFrame
  def append(rows: DataFrame): Unit
}

/** Insert-if-absent (SURVEY.md §2.1 S6, §2.9; load.py:20-68): read the
  * stored keys, append only the incoming rows whose key is absent,
  * never update — re-sent changed rows are ignored (SURVEY §7.3 warns
  * against "upgrading" this to MERGE). Null keys never match, so
  * null-key rows always insert (pandas `~isin` parity).
  *
  * One pass per table: a lazy incoming frame is re-evaluated — parse,
  * transform and all — by every action taken on it (Spark SQL, SIGMOD
  * 2015), so the load takes three actions and evaluates the frame once:
  *  1. the incoming rows, left-joined to the stored keys and to each
  *     FK parent's keys, are materialized by an eager
  *     `localCheckpoint`. Each join adds one presence flag; stored keys
  *     are unique (every insert refuses duplicates), so no row
  *     multiplies and no `distinct` is needed. The checkpoint is also
  *     the barrier the append needs: the write reads checkpointed
  *     blocks, never the table it appends to (`persist` would be
  *     best-effort, and an evicted block would recompute from a plan
  *     reading that very table).
  *  2. one tally over the checkpoint (a single Spark job) yields
  *     every check and the accounting: incoming, non-null and distinct
  *     keys, ignored rows, orphans per FK, and the longest value per
  *     declared VARCHAR column among the rows to write.
  *  3. the append of the absent rows, skipped when there are none (a
  *     missing table is still created, even by an empty batch).
  * The checkpoint is released when the load ends, failed checks
  * included. Checks fail in this order, before anything is written:
  * FK orphans, duplicate keys, then VARCHAR widths.
  */
object InsertIfAbsent {

  /** A REFERENCES constraint: every non-null `fk` value of the incoming
    * rows must be among `parentKeys` (a one-column key read of
    * `parent`'s `ppk`). Checked on all incoming rows, ignored ones
    * included, as the warehouse checks every insert. */
  final case class ForeignKey(fk: String, parent: String, ppk: String,
      parentKeys: DataFrame)

  private val Stored = "__iia_stored"

  /** Loads `df` into `store`; returns (inserted, ignored), load.py:53-57's
    * accounting. `label` names the table in messages. Within-batch key
    * uniqueness is enforced: the sink has no row order to pick a
    * survivor, so dedup belongs upstream (Transform.dedupKeepFirst).
    * `varcharLimits` are (column, n) widths the warehouse DDL declares:
    * Postgres rejects an over-wide value where Spark would store it. */
  def apply(df: DataFrame, label: String, pkCol: String, store: KeyedStore,
      foreignKeys: Seq[ForeignKey] = Nil,
      varcharLimits: Seq[(String, Int)] = Nil): (Long, Long) = {
    val fkFlags = foreignKeys.indices.map(i => s"__iia_fk$i")
    val stored = store.exists
    val withFks = foreignKeys.zip(fkFlags).foldLeft(df) {
      case (f, (k, flag)) => flagPresent(f, k.fk, k.parentKeys, flag)
    }
    val probed =
      if (stored) flagPresent(withFks, pkCol, store.keys(pkCol), Stored)
      else withFks
    val isNew = if (stored) col(Stored).isNull else lit(true)
    val cp = probed.localCheckpoint(eager = true)
    try {
      val (keyed, distinct, t) = tally(cp.select(col(pkCol) +: !isNew +:
        foreignKeys.zip(fkFlags).map { case (k, flag) =>
          col(k.fk).isNotNull && col(flag).isNull
        } ++: lengths(varcharLimits, df.columns, isNew): _*),
        1 + foreignKeys.size)
      val (incoming, ignored) = (t(0), t(1))
      foreignKeys.zipWithIndex.foreach { case (k, i) =>
        val n = t(2 + i)
        require(n == 0L,
          s"$label: $n rows violate FK ${k.fk} -> ${k.parent}" +
            s"(${k.ppk}) — the warehouse REFERENCES constraint rejects " +
            "this batch")
      }
      val dupes = keyed - distinct
      require(dupes == 0L,
        s"$label: incoming batch carries $dupes duplicate non-null " +
          s"'$pkCol' rows; the never-update sink refuses ambiguous " +
          "batches — dedup upstream (Transform.dedupKeepFirst) where row " +
          "order exists")
      val inserted = incoming - ignored
      if (inserted > 0 || !stored) {
        requireWidths(label, varcharLimits, df.columns,
          t.drop(2 + foreignKeys.size).toSeq)
        store.append(cp.where(isNew).drop(Stored +: fkFlags: _*))
      }
      (inserted, ignored)
    } finally release(cp)
  }

  /** VARCHAR(n) enforcement for a write outside insert-if-absent (a
    * full refresh): one aggregate over `df`, same checks and messages. */
  def checkWidths(df: DataFrame, label: String,
      varcharLimits: Seq[(String, Int)]): Unit = {
    val widths = lengths(varcharLimits, df.columns, lit(true)).map(max)
    val longest = if (widths.isEmpty) Nil
      else df.agg(widths.head, widths.tail: _*).head().toSeq
        .map(w => if (w == null) 0L else w.asInstanceOf[Int].toLong)
    requireWidths(label, varcharLimits, df.columns, longest)
  }

  /** `f` plus a `flag` column: true where `on` equals one of `keys`,
    * null elsewhere. */
  private def flagPresent(f: DataFrame, on: String, keys: DataFrame,
      flag: String): DataFrame = {
    val k = s"${flag}_key"
    f.join(keys.select(col(keys.columns.head).as(k), lit(true).as(flag)),
      col(on) === col(k), "left").drop(k)
  }

  /** Length of each declared column present in `columns`, on the rows
    * where `rows` holds (null elsewhere). */
  private def lengths(limits: Seq[(String, Int)], columns: Seq[String],
      rows: Column): Seq[Column] =
    limits.collect {
      case (c, _) if columns.contains(c) => when(rows, length(col(c)))
    }

  /** `longest(i)` is the longest value of the i-th declared column
    * present in `columns`. A declared column MISSING from the frame is
    * schema drift, so it fails loudly instead of passing. */
  private def requireWidths(label: String, limits: Seq[(String, Int)],
      columns: Seq[String], longest: Seq[Long]): Unit = {
    val absent = limits.map(_._1).filterNot(columns.contains)
    require(absent.isEmpty,
      s"$label declares VARCHAR limits on $absent but the frame lacks " +
        "those columns")
    limits.zip(longest).foreach { case ((c, n), got) =>
      require(got <= n,
        s"$label column '$c' exceeds VARCHAR($n): longest incoming value " +
          s"is $got chars — the warehouse DDL rejects this")
    }
  }

  /** Tallies `f` — a key column, `nFlags` boolean columns, then nullable
    * int columns — in ONE Spark job: a keyed RDD reduce, where the SQL
    * aggregate (a distinct count under a global one) has two exchanges
    * and adaptive execution runs each as its own job. Returns (non-null
    * keys, distinct non-null keys, slots): slot 0 counts rows, slot i
    * sums flag column i or holds the largest value of int column i. */
  private def tally(f: DataFrame, nFlags: Int): (Long, Long, Array[Long]) = {
    val n = f.columns.length
    val merge: (Array[Long], Array[Long]) => Array[Long] = (a, b) => {
      for (i <- 0 until n)
        a(i) = if (i <= nFlags) a(i) + b(i) else math.max(a(i), b(i))
      a
    }
    val perKey = f.rdd.map { r =>
      val t = new Array[Long](n)
      t(0) = 1L
      for (i <- 1 until n if !r.isNullAt(i))
        t(i) = if (i > nFlags) r.getInt(i).toLong
          else if (r.getBoolean(i)) 1L else 0L
      val key = r.get(0) match { // binary keys compare by content
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case k => k
      }
      (key, t)
    }.reduceByKey(merge)
    perKey.aggregate((0L, 0L, new Array[Long](n)))(
      { case ((keyed, distinct, t), (k, kt)) =>
        if (k == null) (keyed, distinct, merge(t, kt))
        else (keyed + kt(0), distinct + 1, merge(t, kt)) },
      { case ((k1, d1, t1), (k2, d2, t2)) =>
        (k1 + k2, d1 + d2, merge(t1, t2)) })
  }

  /** Frees a `localCheckpoint`'s blocks: `Dataset.unpersist` only
    * reaches the cache manager, not the checkpointed RDD. */
  private def release(cp: DataFrame): Unit = cp.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
