package graft

import org.apache.spark.sql.SparkSession

/** Scratch perf probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val q = args.headOption.getOrElse("q_ep3_chain")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        sys.env.getOrElse("PROBE_EXCLUDE", ""))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var t = System.nanoTime()
    def lap(tag: String): Unit = {
      val now = System.nanoTime()
      println(f"$tag: ${(now - t) / 1e9}%.2fs")
      t = now
    }
    println("input partitions: " + spark.read
      .parquet(s"$sfDir/lineitem.parquet").rdd.getNumPartitions)
    val df = Queries.queries(q)(spark, sfDir)
    lap("build")
    df.queryExecution.analyzed
    lap("analyze")
    df.queryExecution.optimizedPlan
    lap("optimize")
    df.queryExecution.executedPlan
    lap("physical")
    val planStr = df.queryExecution.executedPlan.toString
    println("PLAN operators: " + planStr.linesIterator.map(_.trim)
      .filter(_.startsWith("+-")).map(_.drop(3).takeWhile(_ != ' '))
      .mkString(" | "))
    println("PLAN head:\n" + planStr.linesIterator.take(12).mkString("\n"))
    for (round <- 1 to 2) {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      println(s"run$round: ${(System.nanoTime() - t0) / 1e9}s")
    }
    val finalPlan = df.queryExecution.executedPlan.toString
    println("WSCG units: " + "WholeStageCodegen".r.findAllIn(finalPlan).size +
      ", codegen ids: " + "\\*\\(\\d+\\)".r.findAllIn(finalPlan).toSeq.distinct.mkString(","))
    spark.stop()
  }
}
