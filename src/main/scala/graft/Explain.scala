package graft

/** Prints formatted physical plans for plan-posture review (no execution). */
object Explain {
  def main(args: Array[String]): Unit = {
    // the session recipe Bench and Verify run under, so a dump shows the
    // plan those sessions execute
    val spark = SessionDefaults.session("local[4]", 4)
    // SPARK_GRAFT_NO_BCAST=1 shows the at-scale shape where no side fits
    // a broadcast (small-SF plans otherwise hide SMJ/bucketing behavior)
    if (sys.env.get("SPARK_GRAFT_NO_BCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq("q_filter", "q_join_bcast", "q1_agg", "q_topk")
    names.foreach { n =>
      println(s"########## $n")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
