package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Merge}

/** Batch conformance pipeline driver — the Spark shape of `sync-app run`
  * (reference `sync-app/src/sync.rs:464-638`, SURVEY §3.2):
  *
  *   extract (source DataFrames) → conform (union/dedup/project, lazy) →
  *   load in FK dependency order (D5) → GC leaf-first (retain) → stats (D6).
  *
  * The "tables" are a mutable name→DataFrame store standing in for the
  * conformed warehouse; each load is an upsert (full-outer merge rewrite)
  * and each GC a retain (semi-join rewrite) — at cluster scale the store
  * is a set of file-backed tables and each step is write-new-then-swap
  * (atomicity per SURVEY §7.4.4). Loads stay sequential on purpose: the
  * reference orders them for FK integrity (§7.4.6); the parallelism lives
  * inside each distributed write, not across them.
  *
  * One evaluation per extract: [[load]] persists its source through
  * [[graft.CacheScope.persist]], so the merge write fills the cache and
  * the `upserted` count reads it. A [[gc]] whose keep-set is that same
  * frame (the `sync-app` shape) is served from the same cache by
  * Spark's cache manager, so a cycle computes each extract once. The
  * cache lives until the caller's [[graft.CacheScope.releaseAll]], which
  * the driver contract already requires after the last load/gc action.
  */
final class SyncPipeline(spark: SparkSession,
    tableStore: Option[graft.sources.TableStore] = None) {
  import scala.collection.mutable
  private val store = mutable.LinkedHashMap[String, DataFrame]()
  private val stats = mutable.LinkedHashMap[String, SyncStats]()

  def table(name: String): DataFrame = store(name)
  def statsMap: Map[String, SyncStats] = stats.toMap

  /** Materialize a table state through the TableStore seam
    * (WRITE-TABLE-THEN-SWAP: the merged state becomes visible only after
    * the write action succeeds — a failed write leaves the previous
    * version intact; `ParquetStore` versions directories, `JdbcStore`
    * renames a staging table, matching the transactional shape the
    * reference gets from Postgres, `db/src/lib.rs:31-75`). With no store
    * configured (unit-test mode) it falls back to `localCheckpoint` —
    * executor-block-pinned and NOT fault-tolerant, fine only for
    * ephemeral fixtures. */
  private def materialize(name: String, df: DataFrame): DataFrame = tableStore match {
    case Some(ts) => ts.writeSwap(spark, name, df)
    case None     => df.localCheckpoint(eager = true)
  }

  /** Upsert `source` into table `name` on `keys`, recording stats.
    * `source` is persisted and computed once: the merge write fills the
    * cache and `upserted` is an exact count over it. The cache is freed
    * by the caller's [[graft.CacheScope.releaseAll]]. */
  def load(name: String, source: DataFrame, keys: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val src = graft.CacheScope.persist(source)
    val merged = store.get(name) match {
      case Some(target) => Merge.upsert(target, src, keys)
      case None         => src
    }
    store(name) = materialize(name, merged)
    stats(name) = SyncStats(upserted = src.count(), deleted = 0,
      duration = (System.nanoTime() - t0) / 1e9)
  }

  /** Retain-GC table `name` to the keep-set, recording deleted count
    * (reference `retain_*`, leaf-first ordering is the caller's duty).
    * When nothing is deleted the committed version stays as it is: the
    * retain is a left-semi join and the deleted set its left-anti
    * complement, so an empty anti side means the rewrite would reproduce
    * the table row for row. A NULL-key row never matches the keep-set,
    * so it counts as deleted and still forces the rewrite. */
  def gc(name: String, keep: DataFrame, keys: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val target = store(name)
    val deleted = Merge.retainDeletes(target, keep, keys).count()
    if (deleted > 0) store(name) = materialize(name, Merge.retain(target, keep, keys))
    val prev = stats.getOrElse(name, SyncStats(0, 0, 0))
    stats(name) = prev.copy(deleted = prev.deleted + deleted,
      duration = prev.duration + (System.nanoTime() - t0) / 1e9)
  }

  /** FK-existence filter before load (J10, `sync-app/src/sync.rs:541-590`):
    * keep rows whose FK exists in `dim`; dropped count logged, not fatal.
    * A left-semi join, so duplicate dim keys need no distinct. */
  def fkFilter(rows: DataFrame, fk: String, dim: DataFrame, dimKey: String): DataFrame =
    rows.join(dim.select(col(dimKey).as(fk)), Seq(fk), "left_semi")

  /** Stats JSON mirroring `sync-app/src/sync.rs:618-637`. */
  def statsJson: String =
    stats.map { case (k, s) =>
      f""""$k":{"upserted":${s.upserted},"deleted":${s.deleted},"duration":${s.duration}%.3f}"""
    }.mkString("{", ",", "}")
}

final case class SyncStats(upserted: Long, deleted: Long, duration: Double)

object SyncPipeline {
  /** Demo DAG over the testdata star schema, exercising the full load/GC
    * protocol: dims before facts (FK order), GC leaf-first. Pass a
    * `tableStore` for the fault-tolerant write-then-swap store. */
  def runDemo(spark: SparkSession, dir: String,
      tableStore: Option[graft.sources.TableStore] = None): SyncPipeline = {
    import graft.sources.Tables._
    val p = new SyncPipeline(spark, tableStore)
    val cust = customer(spark, dir).select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_nationkey").cast("long").as("nation"))
    val ord = orders(spark, dir).select(col("o_orderkey").as("id"),
      col("o_custkey").as("cust_id"), col("o_totalprice").as("total"))
    // dependency-ordered load: customers then orders (FK cust_id)
    p.load("customers", cust, Seq("id"))
    p.load("orders", p.fkFilter(ord, "cust_id", p.table("customers"), "id"), Seq("id"))
    // GC leaf-first: orders for surviving customers, then customers again
    val keep = cust.filter(col("nation") < 20)
    p.gc("customers", keep, Seq("id"))
    p.gc("orders", p.table("customers").select(col("id").as("cust_id")), Seq("cust_id"))
    // driver contract (CacheScope): every load/gc action above has run,
    // so operator-internal persists (e.g. a curation stage composed into
    // a load) are released before the pipeline hands back
    graft.CacheScope.releaseAll()
    p
  }
}
