package graft

/** Dev tool: dump `explain("formatted")` plans + two timed runs for one
  * or many queries in one JVM/session (one sbt startup per optimization
  * batch instead of one per query).
  *
  * Usage: runMain graft.ExplainBatch <q1,q2,...> <sfDir> <outDir> <suffix>
  * Writes <outDir>/<name>_<suffix>.txt per query and prints
  * `[explainbatch] <name> run1=..s run2=..s` timings (run2 is the warm,
  * steady-state number used as the per-query before/after evidence). */
object ExplainBatch {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r13"
    val suffix = if (args.length > 3) args(3) else "plan"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = Sessions.local(cpus)
    // A/B experiment aid: 'k=v;k2=v2' extra confs for this session only.
    // Empty segments (trailing ';') are skipped; a segment without '='
    // fails with a message naming it instead of an opaque MatchError.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(
      _.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_EXTRA_CONF segment '$kv' is not k=v")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        // noop sink, matching Bench's round-14 timed action (guide §1.4):
        // count() let Catalyst prune columns/joins out of the timed plan
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[explainbatch] $name%s run1=${times(0)}%.2f run2=${times(1)}%.2f")
        // SPARK_GRAFT_EXPLAIN_FINAL=1: re-dump the plan AFTER execution —
        // under AQE the pre-execution dump shows isFinalPlan=false without
        // runtime stage reuse / coalescing; the post-execution dump is the
        // plan that actually ran (the only way to verify a ReusedExchange
        // claim with AQE on).
        if (sys.env.get("SPARK_GRAFT_EXPLAIN_FINAL").contains("1"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_${suffix}_final.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      } catch { case e: Throwable =>
        println(s"[explainbatch] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
