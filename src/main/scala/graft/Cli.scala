package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.JsonOut
import graft.queries._

/** CLI surface mirroring the reference's subcommand verbs (SURVEY
  * §7.1.9; `ddb/src/main.rs` + the `ddb/src/cmd` modules): every command builds a
  * named query and prints one JSON document per row (S7/F9 contract).
  *
  *   runMain graft.Cli <sfDir> members all
  *   runMain graft.Cli <sfDir> members by-club 7
  *   runMain graft.Cli <sfDir> members by-uid 42
  *   runMain graft.Cli <sfDir> members history
  *   runMain graft.Cli <sfDir> members intl-history
  *   runMain graft.Cli <sfDir> users by-email <email>
  *   runMain graft.Cli <sfDir> clubs | regions | races | airstreams | addresses
  *   runMain graft.Cli <sfDir> leadership for-clubs [--as-of 2000-06-01 | --all]
  *   runMain graft.Cli <sfDir> leadership for-region <uid> [...]
  *   runMain graft.Cli <sfDir> curate | contamination
  *   runMain graft.Cli <sfDir> corpus-prep --checkpoint-dir <dir> --out <dir> [--shards N]
  *   runMain graft.Cli <sfDir> pretrain-prep --checkpoint-dir <dir> --out <dir> [--shards N]
  *   runMain graft.Cli <sfDir> export --shards N --out <dir>
  *   runMain graft.Cli <sfDir> export --append --shards N --out <dir>
  *   runMain graft.Cli <sfDir> export --verify <dir>
  *   runMain graft.Cli <sfDir> bpe-train --merges N --out <dir>
  *   runMain graft.Cli <sfDir> query <catalog-entry-name>
  */
object Cli {

  /** Resolve a command line to a DataFrame (separated from main for
    * testability). Throws IllegalArgumentException on unknown verbs. */
  def resolve(spark: SparkSession, d: String, args: Seq[String]): DataFrame = {
    def dateFilter(rest: Seq[String]): DateFilter = rest match {
      case Seq("--all", _*)          => DateFilter.All
      case Seq("--as-of", dt, _*)    => DateFilter.AsOf(dt)
      case _                         => DateFilter.Current
    }
    args match {
      case Seq("members", "all")                  => Members.all(spark, d)
      case Seq("members", "by-club", uid)         => Members.byClub(spark, d, uid.toLong)
      case Seq("members", "by-region", uid)       => Members.byRegion(spark, d, uid.toLong)
      case Seq("members", "by-uid", uid)          => Members.byUid(spark, d, uid.toLong)
      case Seq("members", "by-email", email)      => Members.byEmail(spark, d, email)
      case Seq("members", "history")              => Members.historyAll(spark, d)
      case Seq("members", "intl-history")         => Members.internationalHistoryAll(spark, d)
      case Seq("members", "mailing-addresses")    => Members.mailingAddresses(spark, d)
      case Seq("users", "all")                    => Users.all(spark, d)
      case Seq("users", "by-uid", uid)            => Users.byUid(spark, d, uid.toLong)
      case Seq("users", "by-email", email)        => Users.byEmail(spark, d, email)
      case Seq("clubs")                           => Clubs.all(spark, d)
      case Seq("clubs", "by-uid", uid)            => Clubs.byUid(spark, d, uid.toLong)
      case Seq("clubs", "by-number", n)           => Clubs.byNumber(spark, d, n.toLong)
      case Seq("regions")                         => Regions.all(spark, d)
      case Seq("regions", "by-uid", uid)          => Regions.byUid(spark, d, uid.toLong)
      case Seq("regions", "by-number", n)         => Regions.byNumber(spark, d, n.toLong)
      case Seq("standing-committees")             => StandingCommittees.all(spark, d)
      case Seq("races")                           => Races.all(spark, d)
      case Seq("roles")                           => Roles.all(spark, d)
      case Seq("roles", "microsite-admins")       => Roles.micrositeAdmins(spark, d)
      case Seq("airstreams")                      => Airstreams.all(spark, d)
      case Seq("airstreams", "by-user", uid)      => Airstreams.byUserId(spark, d, uid.toLong)
      case Seq("addresses")                       => Addresses.all(spark, d)
      case Seq("addresses", "by-user", uid)       => Addresses.byUserId(spark, d, uid.toLong)
      case Seq("leadership", "for-clubs", rest @ _*) =>
        Leadership.forAllClubs(spark, d, dateFilter(rest))
      case Seq("leadership", "for-club", uid, rest @ _*) =>
        Leadership.forClub(spark, d, uid.toLong, dateFilter(rest))
      case Seq("leadership", "for-regions", rest @ _*) =>
        Leadership.forAllRegions(spark, d, dateFilter(rest))
      case Seq("leadership", "for-region", uid, rest @ _*) =>
        Leadership.forRegion(spark, d, uid.toLong, dateFilter(rest))
      case Seq("leadership", "international", rest @ _*) =>
        Leadership.forInternational(spark, d, dateFilter(rest))
      // data-pipeline verbs (beyond reference parity, SURVEY §2.11):
      // run any catalog entry by name against the table dir
      case Seq("query", name) =>
        SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
          s"unknown query: $name (known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})"
        ))(spark, d)
      case Seq("curate") =>
        DataCatalog.dp1.build(spark, d)
      // the at-scale two-phase split: pairs + survivors land in the
      // checkpoint store first, clustering runs as its own job over them
      case Seq("curate", "--checkpoint-dir", dir) =>
        graft.pipeline.Curation.run(spark, d, dir)
      case Seq("contamination") =>
        DataCatalog.c1.build(spark, d)
      // the full production corpus-prep path: two-phase checkpointed
      // curation → scrub → chunk → pack → shard export → verify; prints
      // the per-pack receipt (fails hard if the export doesn't verify)
      case Seq("corpus-prep", "--checkpoint-dir", ckpt, "--out", out, rest @ _*) =>
        val shards = rest match {
          case Seq("--shards", n, _*) => n.toInt
          case _                      => 8
        }
        graft.pipeline.CorpusPrep.run(spark, d, ckpt, out, shards)
      // the full pretraining prep: corpus-prep's path with the epoch
      // mixture inserted after curation and the curriculum receipt
      // (exact pack ranking) returned after the export verifies
      case Seq("pretrain-prep", "--checkpoint-dir", ckpt, "--out", out, rest @ _*) =>
        val shards = rest match {
          case Seq("--shards", n, _*) => n.toInt
          case _                      => 8
        }
        graft.pipeline.CorpusPrep.runPretrain(spark, d, ckpt, out, shards)
      // deterministic shard export of the curated corpus (out1) and the
      // one-pass integrity check of a previous export (out2); both print
      // the manifest/diff rows as the JSON result
      case Seq("export", "--shards", n, "--out", dir) =>
        graft.operators.Sharding.write(graft.sources.Tables.documents(spark, d),
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), n.toInt, dir)
      // O(batch) top-up of an existing export: new files in content-
      // stable shards, manifest counts add / mod-sum hashes combine
      case Seq("export", "--append", "--shards", n, "--out", dir) =>
        graft.operators.Sharding.append(graft.sources.Tables.documents(spark, d),
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), n.toInt, dir)
      case Seq("export", "--verify", dir) =>
        graft.operators.Sharding.verify(spark, dir,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      // train a BPE tokenizer on the corpus and persist the artifact:
      // vocab (word, freq, sym) + token vocabulary parquet under --out,
      // the learned merge list returned (and printed) as the result
      case Seq("bpe-train", "--merges", n, "--out", out) =>
        import org.apache.spark.sql.functions.col
        val docs = graft.sources.Tables.documents(spark, d)
        val (merges, fin) = graft.operators.Bpe.learn(
          graft.operators.Bpe.wordCounts(docs, col("text")), n.toInt)
        fin.write.mode("overwrite").parquet(s"$out/vocab")
        graft.operators.Bpe.tokenVocab(fin)
          .write.mode("overwrite").parquet(s"$out/tokens")
        import spark.implicits._
        spark.createDataset(merges).toDF()
      case other =>
        throw new IllegalArgumentException(s"unknown command: ${other.mkString(" ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Cli <sfDir> <command...>")
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val df = resolve(spark, args.head, args.tail.toSeq)
    try JsonOut.print(Catalog.ordered(df))
    finally CacheScope.releaseSession() // one-query run: query + session caches end together
    spark.stop()
  }
}
