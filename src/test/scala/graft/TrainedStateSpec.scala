package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The trained-state memo's lookup and replacement rule: one entry per
  * (name, dir), a hit only for the same session and source fingerprint,
  * and a miss unpersists the frames of the entry it replaces. */
class TrainedStateSpec extends SparkSuite {

  /** A temp dir holding the first `n` sf documents as documents.parquet. */
  private def corpus(n: Int, dir: String = Files.createTempDirectory("graft-ts").toString): String = {
    spark.read.parquet(s"$sf/documents.parquet").orderBy("doc_id").limit(n)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("the train thunk runs once per session and corpus") {
    val dir = corpus(20)
    var trains = 0
    val vs = (1 to 3).map(_ => TrainedState("spec-once", spark, dir, "documents") {
      trains += 1; Seq(trains)
    })
    assert(trains == 1)
    assert(vs.forall(_ eq vs.head))
  }

  test("an in-place corpus rewrite retrains and unpersists the stale frame") {
    val dir = corpus(20)
    var trains = 0
    def frame() = TrainedState("spec-rewrite", spark, dir, "documents") {
      trains += 1
      // the generation literal keeps the two plans apart, so the stale
      // frame's storage level is its own, not the retrained frame's
      Tables.documents(spark, dir).withColumn("gen", lit(trains))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val stale = frame()
    assert(stale.count() == 20)
    assert(stale.storageLevel != StorageLevel.NONE)
    corpus(30, dir)
    val fresh = frame()
    assert(trains == 2)
    assert(stale.storageLevel == StorageLevel.NONE)
    assert(fresh.count() == 30)
    fresh.unpersist()
  }

  test("a second session replaces the first session's entry") {
    val dir = corpus(20)
    val s2 = spark.newSession()
    var trains = 0
    def get(s: org.apache.spark.sql.SparkSession) =
      TrainedState("spec-session", s, dir, "documents") { trains += 1; trains }
    get(spark)
    assert(TrainedState.sessionOf("spec-session", dir).exists(_ eq spark))
    get(s2)
    get(s2)
    assert(trains == 2)
    assert(TrainedState.sessionOf("spec-session", dir).exists(_ eq s2))
  }

  test("rrf_fusion trains its nested memos inside its own entry") {
    // rrfRanks trains while holding the memo's lock and looks up
    // bigramLogprob and trainQualityPerceptron from inside the thunk;
    // a fresh dir makes every one of them a miss
    val dir = corpus(Int.MaxValue)
    val rows = SparkEntry.queries("rrf_fusion")(spark, dir).collect().toSeq
    for (name <- Seq("rrf", "blp", "qc"))
      assert(TrainedState.sessionOf(name, dir).exists(_ eq spark), name)
    assert(rows.nonEmpty)
    assert(rows == SparkEntry.queries("rrf_fusion")(spark, sf).collect().toSeq)
  }
}
