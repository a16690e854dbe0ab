package graft

/** Prints the formatted physical plan of the named queries, under the
  * session and input-derived partitions graft.Bench times them with on
  * the same SPARK_GRAFT_SF_DIR (`scripts/explain.sh` splits the output
  * into one file per query). */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.start(GraftSession.partitionsFor(sfDir, GraftSession.cpus))
    SparkEntry.allDecls.filter(d => args.contains(d.name)).foreach { d =>
      println(s"==== ${d.name}")
      d.fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
