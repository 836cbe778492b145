package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Dev tool (guide §1 / §7.2), sibling of [[DumpPlans]]: EXECUTE every
  * registered query at a small SF and record the AQE-final plan — the
  * runtime truth the initial-plan dumps cannot show (exchange reuse,
  * AQE join rewrites). Emits one line per query with the
  * [[FinalPlanCounts]] of the final plan, plus the full final-plan text
  * per query. Not part of the Verify/Bench contract.
  */
object DumpRuntimePlans {

  /** Operator lines of an AQE-final plan: materialised shuffle exchanges,
    * ReusedExchange nodes, Generate (explode) nodes, parquet scans, and
    * operators evaluating `shinglehashes(` (each one a corpus hashing
    * pass). */
  final case class FinalPlanCounts(real: Int, reused: Int, generates: Int,
                                   scans: Int, shingleHashes: Int)

  /** Executes `df`, then counts operators in its AQE-final plan — the
    * adaptive plan string leads with the final plan; it is cut at the
    * `== Initial Plan ==` section. */
  def finalPlanCounts(df: DataFrame): FinalPlanCounts = {
    df.queryExecution.toRdd.count()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    def lines(p: String => Boolean): Int = fin.linesIterator.count(p)
    FinalPlanCounts(
      real = lines(l => l.contains("+- Exchange ") && !l.contains("ReusedExchange")),
      reused = lines(_.contains("ReusedExchange")),
      generates = lines(_.contains("Generate ")),
      scans = lines(_.contains("FileScan parquet")),
      shingleHashes = lines(_.contains("shinglehashes(")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans/r16/runtime"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val rows = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val c = finalPlanCounts(df)
          Files.writeString(Paths.get(s"$outDir/$name.txt"),
            df.queryExecution.executedPlan.toString)
          val line = s"real=${c.real}\treused=${c.reused}\tgen=${c.generates}\t" +
            s"scan=${c.scans}\thash=${c.shingleHashes}"
          rows.append(s"$name\t$line\n")
          System.err.println(s"[rtplans] $name ${line.replace('\t', ' ')}")
        } catch { case e: Throwable =>
          rows.append(s"$name\tERROR\t${e.getMessage}\n")
          System.err.println(s"[rtplans] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/_summary.tsv"), rows.toString)
    spark.stop()
  }
}
