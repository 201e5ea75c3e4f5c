package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Access to the `private[spark]` RDD operation scopes of a stage: the
  * plan operators that built its RDDs, from its last RDD back through
  * its narrow ancestors, each once — e.g. `Exchange`,
  * `WholeStageCodegen (3)`, `Scan parquet` for a scan-and-shuffle
  * stage. Scopes named after RDD methods (`mapPartitionsInternal`) are
  * dropped: operator names are capitalised, RDD method names are not.
  */
object StageScope {
  def apply(si: StageInfo): Seq[String] =
    si.rddInfos.flatMap(_.scope).map(_.name.trim).filter(_.headOption.exists(_.isUpper)).distinct
}
