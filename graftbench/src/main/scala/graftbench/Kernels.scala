package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Micro-timings of the engine's three native SQL functions over the
  * workload's own documents and embeddings, outside the passes: the
  * time per row of a query that sums the function over the inputs,
  * replicated and cached first, fastest of several warmed runs. The
  * time includes reading the cached rows; with C2, graft_dot costs
  * less than that read, so a difference against a query without the
  * function would be lost in the noise. `run.py` runs this in a JVM
  * of its own with the default JIT:
  *
  *   graftbench.Kernels <inputsDir> <out.json>
  */
object Kernels {
  private val Runs = 5

  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = graft.GraftSession.local(Main.cpus.toString)
    try Files.writeString(Paths.get(out), Main.json.writeValueAsString(measure(spark, dir)))
    finally spark.stop()
  }

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(split(trim(lower(col("text"))), " +").as("toks"))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val res = Map(
      "kernel.dot_ns_row" -> nsPerRow(spark, vecs, 400000L, "graft_dot(v, v)"),
      "kernel.simhash63_ns_row" -> nsPerRow(spark, toks, 100000L, "graft_simhash63(toks)"),
      "kernel.minhash20_ns_row" ->
        nsPerRow(spark, toks, 100000L, "size(graft_minhash20(toks))"))
    spark.catalog.clearCache()
    res
  }

  private def nsPerRow(spark: SparkSession, input: DataFrame, target: Long,
      kernel: String): Double = {
    val n = input.count()
    val copies = math.max(1L, target / math.max(1L, n))
    val rows = spark.range(copies).crossJoin(input).drop("id")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    rows.count()
    val q = rows.select(sum(expr(kernel).cast("double")))
    (1 to Runs).foreach(_ => q.head())
    val ts = (1 to Runs).map { _ =>
      val t0 = System.nanoTime()
      q.head()
      (System.nanoTime() - t0).toDouble
    }
    rows.unpersist(blocking = true)
    ts.min / (copies * n)
  }
}
