package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify, Bench, and tests agree.
  *
  * Scale stance: `shuffle.partitions` is pinned to the core count for
  * local runs (the driver exports SPARK_GRAFT_CPUS); on a real cluster
  * this would be executors×cores×2-3 with AQE coalescing
  * (`spark.sql.adaptive.coalescePartitions`) handling the tail.
  *
  * Local file I/O: the two `fs.*file.impl` keys give the session's
  * Hadoop `file:` FileSystem and its FileContext twin the engine's
  * [[graft.sources.NioLocalFileSystem]] / [[graft.sources.NioLocalFs]].
  * Without the native `libhadoop`, the stock classes start a `chmod`
  * process for every file and directory they create and a `readlink`
  * for every checkpoint-file rename: about 1,000 processes in one store
  * drain, each costing more than the small write it follows. The
  * key also pins the `file:` class, which otherwise depends on classpath
  * order (hive-exec registers its own). Hadoop caches one FileSystem per
  * scheme for the whole JVM, so the key takes effect only when no
  * `file:` FileSystem was created before the session (LocalFsSpec
  * checks the test JVM). Other schemes are untouched.
  *
  * Session artifact isolation is off: the engine adds no session
  * artifacts (jars, files, classes), and with isolation on (the Spark 4
  * default) every executor task runs under an `ExecutorClassLoader`,
  * which turns each class miss of the task's Janino-compiled code into
  * an RPC to the driver. On a CPU-bound store drain that class loader
  * showed up in 83 of 1,569 JFR samples, and in none with isolation off.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // earlier corpus generations shipped events.ts as parquet
      // TIMESTAMP(NANOS); Spark has no nanos timestamp type, so read
      // that shape as an exact nanos-epoch long (Tables.deriveTs
      // normalizes either shape to the shared ts_ns + ts contract).
      // Harmless for the current micros-precision corpus.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native engine functions (graft_minhash, graft_cosine)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // fork-free local file system (see the scaladoc above)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)
      // no per-session class loader on executors (see the scaladoc above)
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Session confs from a `conf:k=v,k=v` main argument (comma, not
    * semicolon: sbt's batch mode splits its command string on `;`). A
    * malformed token refuses rather than silently running the defaults.
    */
  def confPairs(arg: String): Seq[(String, String)] =
    arg.stripPrefix("conf:").split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => sys.error(s"malformed conf token '$kv' — expected key=value")
      }
    }

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
