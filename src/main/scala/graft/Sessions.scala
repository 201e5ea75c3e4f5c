package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify, Bench, and tests agree.
  *
  * Scale stance: `shuffle.partitions` is pinned to the core count for
  * local runs (the driver exports SPARK_GRAFT_CPUS); on a real cluster
  * this would be executors×cores×2-3 with AQE coalescing
  * (`spark.sql.adaptive.coalescePartitions`) handling the tail.
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
