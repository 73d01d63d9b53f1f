package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merge-semantics sink operators (SURVEY §2.1 S8-S12): upsert, retain
  * (anti-delete GC), and audience set-difference — expressed as pure
  * DataFrame transforms so the "write" is a join rewrite + atomic swap of
  * the backing table (file-table MERGE protocol, SURVEY §4 "Transactional
  * GC"). Spark has no built-in JDBC upsert; at cluster scale these become
  * `target.merge(...)`-style rewrites whose only shuffle is on the merge
  * key, and the source side is broadcast when small.
  */
object Merge {

  /** Upsert: `INSERT … ON CONFLICT(key) DO UPDATE` (`db/src/lib.rs:14`,
    * `db/src/user.rs:59-99` et al). Row exists in source → source wins;
    * else target survives. Implemented as full-outer join + per-column
    * pick; both sides must share a schema.
    *
    * NULL-key semantics match SQL unique constraints (and the oracle's
    * plain `=` join): NULLs never conflict, so a NULL-key source row is
    * an insert, never an update of a NULL-key target row. "Source wins"
    * is decided by a non-null marker tagged on the source side — not by
    * key null-ness — so it stays correct even for NULL-key rows. */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    val dataCols = cols.filterNot(keys.contains)
    val t = target.alias("t")
    val s = source.withColumn("__src", lit(1)).alias("s")
    val joined = t.join(s, keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
    val out = keys.map(k => coalesce(col(s"s.$k"), col(s"t.$k")).as(k)) ++
      dataCols.map(c => when(col("s.__src").isNotNull, col(s"s.$c"))
        .otherwise(col(s"t.$c")).as(c))
    joined.select(out: _*)
  }

  /** Composite-key upsert with pre-dedup (S9, `db/src/club.rs:215-257`):
    * source is first deduped on the composite key (deterministically, by
    * `tieBreak`) then merged. */
  def upsertComposite(target: DataFrame, source: DataFrame, keys: Seq[String], tieBreak: Seq[Column]): DataFrame =
    upsert(target, Dedup.keepOneByKey(source, keys.map(col), tieBreak), keys)

  /** Retain / GC (S10, `db/src/lib.rs:16-76`): keep only target rows whose
    * key IS in the freshly-synced keep-set — a left-semi join (the deleted
    * set is the left-anti complement). A semi or anti join's result does
    * not depend on duplicate keep rows, so the keep side is not made
    * distinct (that would plan an aggregate and a shuffle under it). */
  def retain(target: DataFrame, keep: DataFrame, keys: Seq[String]): DataFrame =
    target.join(keep.select(keys.map(col): _*), keys, "left_semi")

  /** Rows retain() would delete — surfaced for stats (D6) and for the
    * audience delete flow (S12, `mailchimp/src/members.rs:68-97`):
    * optionally exclude rows in `exempt` status first (Cleaned members are
    * never deleted). */
  def retainDeletes(target: DataFrame, keep: DataFrame, keys: Seq[String], exempt: Option[Column] = None): DataFrame = {
    val base = exempt.map(e => target.filter(!e)).getOrElse(target)
    base.join(keep.select(keys.map(col): _*), keys, "left_anti")
  }
}
