package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names to dump (iteration aid)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        println(s"[verify] PASS $name")
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal: an OOM must abort the run, not keep dumping from a
        // corrupted JVM. Delete any stale dump from a previous run into
        // the same outDir — otherwise the DuckDB compare would validate
        // outdated parquet and report green for a query that now throws.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          // close the walk stream: the cleanup path is exactly the one that
          // runs repeatedly when many queries fail, and each unclosed walk
          // leaks its directory handles for the life of the JVM
          val walk = Files.walk(dir)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
