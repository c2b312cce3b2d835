package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, map, when}

/** Checks [[Fingerprint]] on a small frame; exits non-zero on a failure.
  * Run by perfbench/tests/test_fingerprint.py.
  */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0, 5000, 1, 4).select(
      col("id"),
      (col("id") % 7).cast("string").as("s"),
      (col("id") / 3.0).as("d"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 2).as("n"),
      map(lit("k"), col("id") % 5, lit("j"), col("id") % 3).as("m"))
    val swapped = df.select(col("id"), col("s"), col("d"), col("n"),
      map(lit("j"), col("id") % 3, lit("k"), col("id") % 5).as("m"))
    val base = Fingerprint.of(df)
    val failures = Seq(
      "reordered rows" -> Fingerprint.of(df.orderBy(col("id").desc)),
      "repartitioned" -> Fingerprint.of(df.repartition(7, col("s"))),
      "coalesced" -> Fingerprint.of(df.coalesce(1)),
      "map insertion order" -> Fingerprint.of(swapped)
    ).collect { case (what, fp) if fp != base => s"$what: $fp != $base" } ++ Seq(
      "one value changed" -> Fingerprint.of(
        df.withColumn("n", when(col("id") === 42, lit(0L)).otherwise(col("n")))),
      "one row dropped" -> Fingerprint.of(df.filter(col("id") =!= 4999)),
      "one row duplicated" -> Fingerprint.of(df.union(df.filter(col("id") === 1)))
    ).collect { case (what, fp) if fp == base => s"$what: fingerprint unchanged" }
    spark.stop()
    if (!base.startsWith("5000:")) {
      System.err.println(s"row count missing from $base")
      sys.exit(1)
    }
    failures.foreach(f => System.err.println(s"FAIL $f"))
    if (failures.nonEmpty) sys.exit(1)
    println(s"fingerprint ok: $base")
  }
}
