package perfbench

/** Loads the classes every run needs (session start-up, parquet I/O, query
  * planning and execution) so the JVM can archive them for class-data
  * sharing; run once after each build with -XX:ArchiveClassesAtExit.
  * Argument: a scratch directory. */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Verify.makeSession("4")
    import org.apache.spark.sql.functions._
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"), rand(1).as("v"))
      .write.mode("overwrite").partitionBy("k").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").groupBy("k").agg(sum("v"), count(lit(1)))
      .orderBy("k").collect()
    spark.stop()
  }
}
