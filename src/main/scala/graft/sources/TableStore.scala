package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The pluggable source/sink seam (reference S1/S2): the reference reads
  * live MySQL/Postgres pools (`ddb/src/lib.rs:21-33`,
  * `sync-app/src/settings.rs:57-64`) and lands conformed state
  * transactionally (`db/src/lib.rs:14-76`); the sandbox reads parquet
  * fixtures. Both are the same two operations — scan a named table,
  * atomically replace a named table — so both live behind this trait:
  * `ParquetStore` is the default, `JdbcStore` the options-driven
  * production seam.
  */
trait TableSource extends Serializable {
  /** Scan table `name` as a DataFrame (pushdown/pruning intact). */
  def table(spark: SparkSession, name: String): DataFrame
}

trait TableStore extends TableSource {
  /** Atomically replace table `name` with `df`: the new state becomes
    * visible only after the write action succeeds (write-then-swap), and
    * the returned DataFrame reads the committed state. */
  def writeSwap(spark: SparkSession, name: String, df: DataFrame): DataFrame
}

/** Parquet-directory store: reads `dir/<name>.parquet`; writes land in a
  * fresh versioned directory and the current pointer swaps only after
  * the write succeeds — a failed write leaves the previous version
  * intact. At cluster scale the pointer swap is a metastore/table-format
  * commit. */
final case class ParquetStore(dir: String) extends TableStore {
  private val versions =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  // candidate-version allocator, separate from the published pointer: a
  // claimed version becomes visible to table() only after its write
  // action succeeds, so a failed write can never be read
  private val claims =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  override def table(spark: SparkSession, name: String): DataFrame = {
    val v = Option(versions.get(name)).map(_.intValue())
      .orElse(committedVersion(name))
    v match {
      case Some(ver) => spark.read.parquet(s"$dir/$name/v$ver")
      case None      => spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** Restart recovery: the highest on-disk version that finished its
    * write action — judged by Spark's _SUCCESS commit marker, so a
    * version claimed by a writer that crashed mid-write is never read.
    * This is what lets a phase-2 job (or a fresh driver) pick up tables
    * a previous process committed. */
  private def committedVersion(name: String): Option[Int] = {
    val d = new java.io.File(s"$dir/$name")
    if (!d.isDirectory) None
    else Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        new java.io.File(f, "_SUCCESS").exists())
      .flatMap(_.getName.drop(1).toIntOption)
      .maxOption
  }

  override def writeSwap(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    // Seed the allocator from BOTH the in-memory pointer and the highest
    // on-disk committed version: a fresh driver re-running a phase must
    // claim a NEW directory, never overwrite the committed one a crashed
    // run left behind (that rewrite could itself crash mid-write and
    // destroy the only committed copy — the exact failure write-then-
    // swap exists to prevent).
    val v = claims
      .computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicInteger(
        math.max(Option(versions.get(name)).fold(0)(_.intValue()),
          committedVersion(name).getOrElse(0))))
      .incrementAndGet() // unique dir per concurrent writer
    val path = s"$dir/$name/v$v"
    df.write.mode(SaveMode.Overwrite).parquet(path)
    // publish only now that the write succeeded; concurrent completions
    // resolve monotonically (highest completed version wins)
    versions.merge(name, Integer.valueOf(v),
      (a, b) => if (a.intValue() >= b.intValue()) a else b)
    // the schema is the one just written: passing it skips the
    // footer-reading inference job (file sources read it as nullable,
    // exactly as inference would)
    spark.read.schema(df.schema).parquet(path)
  }
}

/** JDBC-backed store, options-driven: reads are partitioned
  * `spark.read.format("jdbc")` scans (predicate pushdown rides the
  * JDBC source), writes land in a staging table and swap in via an
  * atomic rename on the database side.
  *
  * RESERVED NAMES: for a live table `t`, the swap protocol owns
  * `t__staging` (both dialects) and `t__old` (MySQL — dropped before
  * and after the RENAME; a crash between RENAME and the final DROP
  * leaves `t__old` residue that the next publish clears). Genuine
  * application tables must not use the `__staging`/`__old` suffixes. The transport boundary is
  * injectable (the AudienceSink pattern) so the option plumbing and
  * swap protocol are unit-testable without a live database; the default
  * transport is the real Spark JDBC source.
  *
  * @param url         jdbc:subprotocol://... URL (also routes Tables.t here)
  * @param options     extra JDBC options (user, password, driver,
  *                    partitionColumn/lowerBound/upperBound, fetchsize…)
  * @param numPartitions read/write parallelism hint when the caller
  *                    supplies a partitionColumn
  * @param dialect     identifier-quoting + swap-statement provider;
  *                    defaults from the URL subprotocol (MySQL/MariaDB →
  *                    backticks + atomic RENAME TABLE, else ANSI)
  */
final case class JdbcStore(
    url: String,
    options: Map[String, String] = Map.empty,
    numPartitions: Int = 8,
    transport: JdbcStore.Transport = JdbcStore.SparkJdbc,
    dialect: Option[JdbcStore.Dialect] = None) extends TableStore {

  private val dia: JdbcStore.Dialect = dialect.getOrElse(JdbcStore.dialectFor(url))

  private def baseOptions(name: String): Map[String, String] =
    options ++ Map("url" -> url, "dbtable" -> name,
      "numPartitions" -> numPartitions.toString)

  override def table(spark: SparkSession, name: String): DataFrame =
    transport.read(spark, baseOptions(name))

  override def writeSwap(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    val staging = s"${name}__staging"
    transport.write(df, baseOptions(staging))
    // the swap is the pointer flip the reference gets from its database
    // (`db/src/lib.rs:31-75`): rename staging over live. The statement
    // LIST is dialect-provided because atomicity lives in different
    // places per engine — Postgres has transactional DDL, MySQL has the
    // multi-table RENAME. Statements run individually inside one
    // explicit transaction (a single multi-statement string is rejected
    // by MySQL by default); credentials ride the same options as reads.
    transport.exec(url, options, dia.swapStatements(name, staging))
    table(spark, name)
  }
}

object JdbcStore {
  /** ANSI identifier quoting (doubled inner quotes). */
  def quote(ident: String): String = AnsiDialect.quote(ident)

  /** What differs per engine: how identifiers quote, and which statement
    * sequence atomically replaces the live table with the staging one. */
  sealed trait Dialect extends Serializable {
    def quote(ident: String): String
    /** Statements that replace `live` with `staging`; run in order
      * inside one transaction by Transport.exec. */
    def swapStatements(live: String, staging: String): Seq[String]
  }

  /** Postgres and other ANSI engines: DDL is transactional, so DROP +
    * RENAME inside the exec() transaction is atomic — a crash between
    * the two statements rolls both back (`db/src/lib.rs:31-75` is this
    * exact protocol on the reference's Postgres side). */
  case object AnsiDialect extends Dialect {
    override def quote(ident: String): String =
      "\"" + ident.replace("\"", "\"\"") + "\""
    override def swapStatements(live: String, staging: String): Seq[String] = Seq(
      s"DROP TABLE IF EXISTS ${quote(live)}",
      s"ALTER TABLE ${quote(staging)} RENAME TO ${quote(live)}")
  }

  /** MySQL/MariaDB (the engine behind the reference's DDB pool,
    * `ddb/src/lib.rs:21-33`): double-quoted identifiers fail outside
    * ANSI_QUOTES mode → backticks; DDL implicitly COMMITS, so a
    * transaction cannot make DROP + RENAME atomic — a crash between them
    * would lose the live table. The engine's atomic idiom is the
    * multi-table `RENAME TABLE live TO old, staging TO live` (one
    * statement, all-or-nothing). CREATE IF NOT EXISTS covers the
    * first-ever publish (RENAME requires the live side to exist);
    * the `__old` copy is dropped after the swap lands. */
  case object MySqlDialect extends Dialect {
    override def quote(ident: String): String =
      "`" + ident.replace("`", "``") + "`"
    override def swapStatements(live: String, staging: String): Seq[String] = {
      val old = s"${live}__old"
      Seq(
        s"DROP TABLE IF EXISTS ${quote(old)}",
        s"CREATE TABLE IF NOT EXISTS ${quote(live)} LIKE ${quote(staging)}",
        s"RENAME TABLE ${quote(live)} TO ${quote(old)}, ${quote(staging)} TO ${quote(live)}",
        s"DROP TABLE IF EXISTS ${quote(old)}")
    }
  }

  /** Default dialect from the JDBC subprotocol. */
  def dialectFor(url: String): Dialect =
    if (url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:")) MySqlDialect
    else AnsiDialect

  /** Transport boundary: a real deployment drives the Spark JDBC source
    * and a plain JDBC transaction for the swap; tests inject a recorder. */
  trait Transport extends Serializable {
    def read(spark: SparkSession, options: Map[String, String]): DataFrame
    def write(df: DataFrame, options: Map[String, String]): Unit
    /** Run `statements` in order inside one transaction on `url`,
      * authenticating with user/password from `options` when present. */
    def exec(url: String, options: Map[String, String], statements: Seq[String]): Unit
  }

  /** The real thing (requires a JDBC driver on the classpath). */
  object SparkJdbc extends Transport {
    override def read(spark: SparkSession, options: Map[String, String]): DataFrame =
      spark.read.format("jdbc").options(options).load()
    override def write(df: DataFrame, options: Map[String, String]): Unit =
      df.write.format("jdbc").options(options).mode(SaveMode.Overwrite).save()
    override def exec(url: String, options: Map[String, String],
        statements: Seq[String]): Unit = {
      val props = new java.util.Properties()
      options.get("user").foreach(props.setProperty("user", _))
      options.get("password").foreach(props.setProperty("password", _))
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        try {
          val st = conn.createStatement()
          try statements.foreach(st.execute) finally st.close()
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            throw e
        }
      } finally conn.close()
    }
  }
}
