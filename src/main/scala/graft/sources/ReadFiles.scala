package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named storage connections — the Spark mapping of the reference's
  * `ConnectionConfig`/`ConnectionType`
  * (/root/reference/src/config/worker.rs:95-179), where workers
  * configure named fs/S3/Minio endpoints and
  * `read_files(..., connection=>'name')` selects one.
  *
  * `Fs` connections are path roots (posix dir, `hdfs://...`); `S3`
  * connections carry the reference's endpoint/credentials/bucket/
  * path-style settings and map onto Hadoop's per-bucket s3a
  * configuration (`fs.s3a.bucket.<bucket>.*`), which Spark's s3a
  * filesystem applies per URI — so two connections to different
  * object stores coexist in one session, exactly like the reference's
  * per-connection clients. The `"default"` connection doubles as the
  * results root, mirroring the reference's use of `default` for
  * materialized results (materialize_files_task.rs:80-81). */
sealed trait Connection { def root: String }
object Connection {
  final case class Fs(root: String) extends Connection
  final case class S3(
      endpoint: String,
      accessKeyId: String,
      secretAccessKeyId: String,
      bucket: String,
      root: String,
      region: String = "",
      forcePathStyle: Boolean = true) extends Connection
}

final case class Connections(conns: Map[String, Connection]) {
  /** A named connection must exist (a typo fails loud, never reads
    * the path as given); no name means `default`, and with no
    * `default` the path is used as given. */
  def resolve(connection: Option[String], path: String): String = {
    val conn = connection match {
      case None => conns.getOrElse("default", Connection.Fs(""))
      case Some(name) => conns.getOrElse(name, throw new IllegalArgumentException(
        s"unknown connection '$name' (known: ${conns.keys.toSeq.sorted.mkString(", ")})"))
    }
    conn match {
      case _ if path.contains("://") => path
      case Connection.Fs(root) =>
        if (root.isEmpty || path.startsWith("/")) path
        else s"${root.stripSuffix("/")}/$path"
      case s: Connection.S3 =>
        val root = s.root.stripPrefix("/").stripSuffix("/")
        val rel = path.stripPrefix("/")
        if (root.isEmpty) s"s3a://${s.bucket}/$rel" else s"s3a://${s.bucket}/$root/$rel"
    }
  }

  /** Apply every S3 connection's endpoint/credentials/path-style to
    * the session's Hadoop conf as per-bucket s3a settings. Idempotent;
    * no-op for pure-Fs configurations.
    *
    * Implementation selection: on a cluster with `hadoop-aws` deployed
    * these keys drive the stock `S3AFileSystem` untouched. When the
    * AWS SDK is absent from the classpath (this sandbox, slim images),
    * the `s3a` scheme is bound to [[S3LiteFileSystem]] — a
    * dependency-free SigV4/S3-REST implementation of the same conf
    * keys — so object-store reads and writes still execute end-to-end
    * instead of failing at class load. */
  def applyTo(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val hasS3 = conns.values.exists(_.isInstanceOf[Connection.S3])
    if (hasS3) {
      // core-default.xml pre-binds fs.s3a.impl to S3AFileSystem even
      // when hadoop-aws is not deployed — probe loadability, not
      // presence, before falling back.
      val impl = hc.get("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
      if (hc.getClassByNameOrNull(impl) == null)
        hc.set("fs.s3a.impl", classOf[S3LiteFileSystem].getName)
    }
    conns.values.foreach {
      case s: Connection.S3 =>
        val p = s"fs.s3a.bucket.${s.bucket}"
        hc.set(s"$p.endpoint", s.endpoint)
        hc.set(s"$p.access.key", s.accessKeyId)
        hc.set(s"$p.secret.key", s.secretAccessKeyId)
        hc.set(s"$p.path.style.access", s.forcePathStyle.toString)
        if (s.region.nonEmpty) hc.set(s"$p.endpoint.region", s.region)
      case _ => ()
    }
  }
}

object Connections {
  def apply(): Connections = fromRoots(Map("default" -> ""))
  /** Roots-only construction (every connection a posix/hdfs dir). */
  def fromRoots(roots: Map[String, String]): Connections =
    Connections(roots.map { case (k, v) => k -> (Connection.Fs(v): Connection) })
}

/** The reference's `read_files('glob'[, connection=>'name'])` table
  * function (/root/reference/src/handlers/operator_handler/operators/
  * table_func_tasks/read_files_task.rs:64-115,156-289) on Spark's
  * native sources. The call resolves through the analyzer as the
  * injected [[ReadFilesTVF]] (every session the engine builds installs
  * [[GraftExtensions]]); this object scopes a statement's storage
  * connections for it.
  *
  * The reference hand-rolls: storage listing + glob match, streaming
  * parquet decode into ≤10k-row batches, record-id assignment and
  * exchange handoff. On Spark all of that is the `FileSourceScanExec`
  * path — Hadoop glob expansion, split planning via
  * `spark.sql.files.maxPartitionBytes`, the vectorized reader, and
  * shuffle — so the only thing to build is the SQL surface itself.
  */
object ReadFiles {
  /** Format from the file extension only (a directory or glob without
    * one defaults to parquet, the reference's native format; pass
    * format=> explicitly for extensionless CSV/JSON layouts). */
  private[sources] def inferFormat(path: String): String = {
    val p = path.toLowerCase.stripSuffix("/")
    if (p.endsWith(".csv") || p.endsWith(".csv.gz") || p.endsWith(".tsv")) "csv"
    else if (p.endsWith(".json") || p.endsWith(".jsonl") || p.endsWith(".json.gz")) "json"
    else if (p.endsWith(".orc")) "orc"
    else "parquet"
  }

  // The connections of the statement analyzing on this thread. A
  // ThreadLocal, not a session conf or a shared var: QueryService
  // plans concurrent statements with different callers' connections
  // on ONE session, and analysis — where every TVF builder resolves
  // its `connection=>` — is eager and runs on the thread that called
  // spark.sql, so the thread is exactly the statement scope (the
  // TextIndex.confOverrides argument).
  private val statementConnections: ThreadLocal[Connections] =
    ThreadLocal.withInitial(() => Connections())

  /** `path` resolved against the statement's `connection=>` — the one
    * resolution step of `read_files` and the corpus TVFs. */
  private[sources] def resolve(connection: Option[String], path: String): String =
    statementConnections.get().resolve(connection, path)

  /** Execute one statement with `connections` serving its
    * `connection=>` arguments. */
  def sql(spark: SparkSession, statement: String,
          connections: Connections = Connections()): DataFrame = {
    val prior = statementConnections.get()
    statementConnections.set(connections)
    try {
      connections.applyTo(spark)
      spark.sql(statement)
    } finally statementConnections.set(prior)
  }
}

/** SQL-script splitting with the semantics the reference pins in
  * /root/reference/src/planner/test_sqlparser_behavior.rs:7-27
  * (multiple `;`-separated statements, line comments tolerated). */
object ScriptRunner {
  def split(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inStr = false
    var inLineComment = false
    while (i < script.length) {
      val c = script.charAt(i)
      if (inLineComment) {
        if (c == '\n') { inLineComment = false; cur.append(c) }
      } else if (inStr) {
        cur.append(c)
        if (c == '\'') {
          // '' escape inside string literal
          if (i + 1 < script.length && script.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inStr = false
        }
      } else c match {
        case '\'' => inStr = true; cur.append(c)
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          inLineComment = true; i += 1
        case ';' => out += cur.result(); cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
