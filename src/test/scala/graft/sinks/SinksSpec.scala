package graft.sinks

import graft.{JobBudget, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft_sinks")

  private def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq

  test("unpartitioned parquet sink of a small aggregate starts no job before the write") {
    val agg: DataFrame = spark.range(20000)
      .groupBy((col("id") % 50).as("k")).agg(sum("id").as("v"))
    // the SQL execution id of each job, `-` outside any execution
    val plain = JobBudget.jobsOf(spark)(agg.write.parquet(tmp() + "/plain")).map(_._1)
    val path = tmp() + "/sink"
    val jobs = JobBudget.jobsOf(spark)(Sinks.parquet(agg, path)).map(_._1)
    // every job belongs to the write's own query execution, and there
    // are as many as a bare DataFrameWriter write of the same frame runs
    assert(jobs.nonEmpty && !jobs.contains("-"), jobs)
    assert(jobs.distinct.size == 1, jobs)
    assert(jobs.size == plain.size, s"sink $jobs vs bare write $plain")
    assert(spark.read.parquet(path).count() == 50)
  }

  test("unpartitioned parquet sink of a small scan writes what a bare write does") {
    val src = tmp() + "/src"
    spark.range(0, 3000, 1, 3).select(col("id"), (col("id") * 3).as("w"))
      .write.parquet(src)
    val scan = spark.read.parquet(src)
    val bare = tmp() + "/bare"
    scan.write.parquet(bare)
    val sink = tmp() + "/sink"
    Sinks.parquet(scan, sink, policy = Sinks.Drop)
    assert(parquetFiles(sink).size == parquetFiles(bare).size)
    assert(parquetFiles(sink).size == scan.rdd.getNumPartitions)
    val back = spark.read.parquet(sink)
    assert(back.count() == 3000)
    assert(back.orderBy("id").collect().toSeq == scan.orderBy("id").collect().toSeq)
  }

  test("spark.graft.write.salt must be an integer >= 1; the error names key and value") {
    val df = spark.range(10).select(col("id"), (col("id") % 2).as("k"))
    Seq("0", "-3", "two", "1.5").foreach { bad =>
      spark.conf.set("spark.graft.write.salt", bad)
      try {
        val e = intercept[IllegalArgumentException](
          Sinks.parquet(df, tmp() + "/x", partitionCols = Seq("k")))
        assert(e.getMessage.contains("spark.graft.write.salt"), e.getMessage)
        assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset("spark.graft.write.salt")
    }
  }

  test("salted partitioned write keeps rows of a frame with a map column and a dotted name") {
    val df = spark.range(40).select(col("id"), (col("id") % 2).as("k"),
      map(lit("x"), col("id")).as("m"), (col("id") * 10).as("a.b"))
    val out = tmp() + "/salted"
    spark.conf.set("spark.graft.write.salt", "4")
    try Sinks.parquet(df, out, partitionCols = Seq("k"))
    finally spark.conf.unset("spark.graft.write.salt")
    def rows(d: DataFrame) = d.select(col("id"), col("k"), col("m"), col("`a.b`"))
      .orderBy("id").collect().toSeq
    assert(rows(spark.read.parquet(out)) == rows(df))
  }
}
