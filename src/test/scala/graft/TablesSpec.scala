package graft

/** The corpus tables read on declared schemas must read exactly what
  * inference reads, and build without a Spark job.
  */
class TablesSpec extends SparkSpec {

  test("documents and embeddings declare the inferred schema and build with no job") {
    Seq("documents" -> (Tables.documents _), "embeddings" -> (Tables.embeddings _)).foreach {
      case (name, read) =>
        val inferred = Tables.load(spark, Sf, name).schema
        var declared: org.apache.spark.sql.types.StructType = null
        assert(jobsDuring { declared = read(spark, Sf).schema } === 0,
          s"building $name ran a job")
        assert(declared === inferred, s"$name: declared $declared, inferred $inferred")
    }
  }
}
