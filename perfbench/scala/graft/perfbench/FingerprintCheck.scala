package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of [[Fingerprint]] on a small frame, run by
  * `perfbench/tests/test_fingerprint.py`: row order, partitioning and
  * column order leave the fingerprint unchanged; a changed value, a
  * dropped row or a -0.0 for 0.0 change it. Prints one line per case and
  * exits non-zero if any case fails. */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = Seq[(String, java.lang.Double, Seq[Float])](
      ("a", 0.0, Seq(1f, 2f)), ("b", 1.5, Nil), ("c", null, Seq(3f)),
      ("c", null, Seq(3f)), (null, -2.25, Seq(0f, 0f)))
      .toDF("name", "score", "vec")
    val fp = Fingerprint.of(base)
    val same = Seq(
      "reversed rows" -> base.orderBy(col("name").desc_nulls_first, col("score").desc),
      "repartitioned" -> base.repartition(3, col("score")),
      "columns reordered" -> base.select("vec", "score", "name"))
    val different = Seq(
      "changed value" -> base.withColumn("score",
        when(col("name") === "b", lit(1.25)).otherwise(col("score"))),
      "dropped duplicate" -> base.dropDuplicates(),
      "negative zero" -> base.withColumn("score",
        when(col("name") === "a", lit(-0.0)).otherwise(col("score"))),
      "renamed column" -> base.withColumnRenamed("score", "points"))
    val results =
      same.map { case (n, df) => (n, "same", Fingerprint.of(df) == fp) } ++
      different.map { case (n, df) => (n, "different", Fingerprint.of(df) != fp) }
    results.foreach { case (n, want, ok) =>
      println(s"${if (ok) "ok" else "FAIL"} $n: fingerprint $want") }
    spark.stop()
    if (results.exists(!_._3)) sys.exit(1)
  }
}
