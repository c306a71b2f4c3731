package graft

/** Scratch: run one SparkEntry query and print its rows (for oracle
  * cross-checking during development; not a ScalaTest suite). */
object OneOff {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = LocalSession()
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect().foreach(r => println(r.mkString("|")))
    spark.stop()
  }
}
