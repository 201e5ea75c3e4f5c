package graft

/** Adversarial JOIN skew (completing the skew story beyond
  * aggregation): one key holds most of the probe side, and AQE's
  * skew-join on the plain join splits the oversized partition, visible
  * as skew=true in the final plan.
  */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  private val HotRows = 30000
  private val pad = "x" * 64

  private lazy val probe = ((1 to HotRows).map(i => ("hot", i.toLong, pad)) ++
    (1 to 500).flatMap(k => (1 to 10).map(i => (s"k$k", i.toLong, pad))))
    .toDF("key", "v", "pad")

  private lazy val build = (Seq("hot") ++ (1 to 500).map(k => s"k$k"))
    .map(k => (k, s"label-$k")).toDF("key", "label")

  test("AQE skew-join splits the hot partition of the unsalted join") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffled join
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      // partition coalescing would merge the small partitions and lift
      // the median, masking the skew decision under test
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = probe.join(build.hint("merge"), Seq("key"))
        .select("key", "v", "label")
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the skewed sort-merge join:\n$finalPlan")
    }
  }
}
