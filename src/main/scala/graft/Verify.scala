package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def writeOracleJson(path: String,
                                     sql: Map[String, String]): Unit = {
    val json = sql.map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only dump queries whose name starts with one of
    // the comma-separated prefixes (local iteration; the driver always
    // passes 2 args) — or, as `exclude:a,b,c`, dump everything EXCEPT
    // the named queries (the up-corpus pass skips the exact-O(n²)
    // kernel family the same way Bench.UpExcluded does)
    val arg2 = args.lift(2).getOrElse("")
    // optional 4th arg `conf:k=v,k=v`: session confs applied BEFORE the
    // dump — the operational knobs (spark.graft.dsir.target,
    // spark.graft.shuffle.seed) verified through the same DuckDB gate
    // as the defaults: the oracle strings resolve the live conf, so a
    // knobbed Verify run dumps two-engine-consistent SQL.
    require(!arg2.startsWith("conf:"),
      "conf:k=v,k=v is the 4TH arg — pass a prefix filter (or '') as the " +
        "3rd, else the conf string would silently match zero query names")
    // a malformed 4th arg must refuse LOUDLY: silently filtering it
    // out would run a defaults-only verification while the operator
    // believes the knobbed configuration was gate-checked — the same
    // silent-pass failure mode the 3rd-arg require above guards against
    require(args.lift(3).forall(_.startsWith("conf:")),
      s"the 4th arg must be conf:k=v,k=v — got '${args.lift(3).getOrElse("")}', " +
        "which would silently verify the DEFAULT configuration instead")
    val confs = args.lift(3).toSeq.flatMap(Sessions.confPairs)
    val excluded: Set[String] =
      if (arg2.startsWith("exclude:"))
        arg2.stripPrefix("exclude:").split(',').toSet
      else Set.empty
    // `only:a,b` — EXACT names, not prefixes: a prefix filter silently
    // widens (`sim_knn_ann_hier_pq_res` also selects `…_res_recall`,
    // which rides the exact O(n²) kernel — the round-16 advice found
    // exactly that row leaking into an up-decade record)
    val onlyExact: Set[String] =
      if (arg2.startsWith("only:"))
        arg2.stripPrefix("only:").split(',').toSet
      else Set.empty
    val prefixes =
      (if (arg2.startsWith("exclude:") || arg2.startsWith("only:")) ""
       else arg2).split(',').toSeq
    def selected(name: String): Boolean =
      if (onlyExact.nonEmpty) onlyExact.contains(name)
      else prefixes.exists(name.startsWith) && !excluded.contains(name)
    val spark = Sessions.local()
    confs.foreach { case (k, v) =>
      println(s"[verify] conf $k=$v")
      spark.conf.set(k, v)
    }
    // ncells=auto / probe=auto resolve against THIS pass's corpus
    // before anything reads the knobs: queries pin lazily on first
    // corpus touch, but a prefix-filtered run that selects no sim
    // query still GENERATES the sim oracle strings below, which read
    // the resolved values
    operators.SimilarityQueries.pinAutoNCells(spark, sfDir)
    operators.SimilarityQueries.pinProbeMode(spark, sfDir)
    operators.SimilarityQueries.pinSignRows(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // lifecycle: drop every CacheLife-tracked cache + model so a
    // long-lived session ends the pass with zero persistent storage
    CacheLife.release(spark)
    writeOracleJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter(kv => selected(kv._1)))
    spark.stop()
  }
}
