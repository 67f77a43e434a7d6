package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Prints `name<TAB>fingerprint` for each result directory named on the
  * command line under `<dir>` (parquet, as `graft.Verify` writes them), so
  * goldens are the fingerprints of results the DuckDB oracle accepted.
  * Driven by `perfbench/capture_goldens.py`. */
object Goldens {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.drop(1))
      println(s"$name\t${Fingerprint.of(spark.read.parquet(s"${args(0)}/$name"))}")
    spark.stop()
  }
}
