package graft

/** Dev tool: print the formatted physical plan and wall time of one
  * registered query. Usage: Explain <queryName> <sfDir> [reps]
  * (reps > 1 separates codegen/JIT warmup from steady-state execution).
  * Runs in Bench's session configuration (`SPARK_GRAFT_CPUS`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.builder(Sessions.envCpus).getOrCreate()
    val df = SparkEntry.queries(name)(spark, dir)
    df.explain("formatted")
    (1 to reps).foreach { r =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // rebuild per rep: eager operators (components, prefix barriers) do
      // their work at construction, and a cached plan would hide it
      io.Writers.noop(SparkEntry.queries(name)(spark, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"rep=$r time=$sec%.2fs")
    }
    spark.stop()
  }
}
