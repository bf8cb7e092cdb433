package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The actionful builders whose per-corpus eager frames live in
  * [[TrainedState]]: a repeat build in the same session is a memo hit that
  * starts no Spark job and returns the same rows, and a rewritten corpus
  * retrains. */
class MemoizedBuildersSpec extends SparkSuite {

  /** A fresh temp dir holding copies of the sf documents and embeddings,
    * so every memo entry for it starts as a miss. */
  private def copyOfSf(): String = {
    val dir = Files.createTempDirectory("graft-memo")
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    dir.toString
  }

  private def build(name: String, dir: String, s: SparkSession = spark) =
    SparkEntry.queries(name)(s, dir)

  for ((query, memo) <- Seq("bitext_margin" -> "bitext", "video_neardup" -> "video",
      "kcenter_sample" -> "kcenter", "semdedup_trained" -> "semdedup"))
    test(s"$query: a second build in the session is a memo hit and starts no job") {
      val dir = copyOfSf()
      val (h0, m0) = TrainedState.stats(memo)
      val first = build(query, dir)
      assert(TrainedState.stats(memo) == ((h0, m0 + 1)))
      val (second, jobs) = withJobCount(build(query, dir))
      assert(TrainedState.stats(memo) == ((h0 + 1, m0 + 1)))
      assert(jobs == 0, s"$query's repeat build started $jobs Spark job(s)")
      val rows = first.collect().toSeq
      assert(rows.nonEmpty, s"$query is empty on sf — vacuous")
      assert(second.collect().toSeq == rows)
    }

  test("bitext_margin retrains after an in-place embeddings rewrite") {
    val dir = Files.createTempDirectory("graft-memo").toString
    def write(n: Int): Unit =
      spark.read.parquet(s"$sf/embeddings.parquet").orderBy("vec_id").limit(n)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(250)
    val before = build("bitext_margin", dir).collect().toSeq
    val (h0, m0) = TrainedState.stats("bitext")
    write(Int.MaxValue)
    val after = build("bitext_margin", dir).collect().toSeq
    assert(TrainedState.stats("bitext") == ((h0, m0 + 1)))
    assert(before.nonEmpty && after != before, "the rewrite must change the result")
    assert(after == build("bitext_margin", dir, spark.newSession()).collect().toSeq)
  }

  test("semantic_keep_list after semdedup_trained hits the shared ranked frame") {
    val dir = copyOfSf()
    val (h0, m0) = TrainedState.stats("semdedup")
    build("semdedup_trained", dir)
    val (keep, jobs) = withJobCount(build("semantic_keep_list", dir))
    assert(TrainedState.stats("semdedup") == ((h0 + 1, m0 + 1)))
    assert(jobs == 0, s"semantic_keep_list started $jobs Spark job(s) on a hit")
    assert(keep.collect().toSeq == build("semantic_keep_list", sf).collect().toSeq)
  }
}
