package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- SparkEntry.all if names.isEmpty || names.contains(q.name)) {
      println(s"########## ${q.name}")
      q.fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
