package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.VectorKernels
import graft.operators.{Jpeg, Multimodal}

/** Throughput of the engine's custom kernels, called directly on inputs
  * built from the `documents` text with the same public encoders the
  * queries use (3-word shingles as in the MinHash dedup family,
  * `Jpeg.encodeJpegFlat`, `Multimodal.encodeY4m`). Each kernel repeats
  * over the corpus for at least `budgetMs`. */
object Kernels {
  @volatile private var sink = 0L

  private def rate(tracer: Tracer, name: String, budgetMs: Long)(pass: => Long): Double =
    tracer.span(name, "kernel") {
      val t0 = System.nanoTime()
      var units = 0L
      while (System.nanoTime() - t0 < budgetMs * 1000000L) units += pass
      units / ((System.nanoTime() - t0) / 1e9)
    }

  def run(spark: SparkSession, data: String, tracer: Tracer, budgetMs: Long = 400): Map[String, Double] = {
    val texts = Tables.load(spark, data, "documents").select("text").collect()
      .flatMap(r => Option(r.getString(0)))
    val utf = texts.map(UTF8String.fromString)
    val grams = utf.map(VectorKernels.wordShingles(_, 3))
    val jpegs = texts.map(t => Jpeg.encodeJpegFlat(t.getBytes(UTF_8)))
    val jpegBytes = jpegs.map(_.length.toLong).sum
    val y4ms = texts.map(t => Multimodal.encodeY4m(t.getBytes(UTF_8)))
    Map(
      "functions.word_shingles_rows_s" -> rate(tracer, "functions.word_shingles", budgetMs) {
        utf.foreach(t => sink += VectorKernels.wordShingles(t, 3).numElements()); utf.length
      },
      "functions.minhash_sig_rows_s" -> rate(tracer, "functions.minhash_sig", budgetMs) {
        grams.foreach(g => sink += VectorKernels.minhashSig(g).getLong(0)); grams.length
      },
      "Jpeg.decode_mb_s" -> rate(tracer, "Jpeg.decode", budgetMs) {
        jpegs.foreach(p => sink += Jpeg.decodeJpeg(p).hashCode); jpegBytes
      } / 1e6,
      "Multimodal.frame_hash_frames_s" -> rate(tracer, "Multimodal.frame_hash", budgetMs) {
        y4ms.iterator.map { p =>
          val frames = Multimodal.decodeY4mLuma(p)._3
          frames.foreach(f => sink += Multimodal.frameHash64(f._1))
          frames.length.toLong
        }.sum
      })
  }
}
