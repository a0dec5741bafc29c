package perfbench

import org.apache.spark.sql.SparkSession

/** Helpers of the DuckDB cross-check (perfbench/crosscheck.py).
  *  - `stage <workload> <dir>` writes all ten generated tables at the
  *    workload's sizes and prints its queries' names, one a line;
  *  - `digest <dir> <query>...` prints `<query>\t<digest>` for each
  *    query result graft.Verify wrote under `<dir>/<query>`. */
object StageTables {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = args(0) match {
      case "stage" =>
        val w = Workload.all(args(1))
        new Data(spark, QueryMix.DataSeed).stage(args(2), w.sizes,
          Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
            "documents", "embeddings"))
        w match {
          case m: QueryMix => m.queries.map(_._1)
          case _ => Nil
        }
      case "digest" =>
        args.drop(2).toSeq.map(q => s"$q\t${Check.digest(spark.read.parquet(s"${args(1)}/$q")).render}")
    }
    spark.stop()
    out.foreach(println)
  }
}
