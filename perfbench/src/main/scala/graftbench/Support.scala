package graftbench

import org.apache.spark.sql.SparkSession

/** Fixed-work calibration probes recorded with every run, so two sets of
  * runs can be judged against the machine's own drift: one CPU-bound
  * (a Spark range sum) and one memory-bandwidth-bound (a streaming sum
  * over an array far larger than any cache). Each reads the best of three. */
object Probes {
  @volatile private var sink = 0L

  def run(spark: SparkSession): Map[String, Double] = {
    def best(f: => Unit): Double =
      (1 to 3).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }.min
    val cpuMs = best(spark.range(0L, 100000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id)").collect())
    val arr = new Array[Long](16 << 20) // 128 MiB
    java.util.Arrays.fill(arr, 0x9E3779B9L)
    val memMs = best {
      var s = 0L
      var i = 0
      while (i < arr.length) { s += arr(i); i += 1 }
      sink += s
    }
    Map("cpu_ms" -> cpuMs, "mem_ms" -> memMs)
  }
}

/** JSON output of the run record and the span file. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, v)
  }
}
