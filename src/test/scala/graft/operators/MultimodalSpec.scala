package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: payload/metadata schema, stubbed partition-level
  * feature extraction (deterministic, normalized), frame sampling. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("payload + metadata + stub features + frame sampling") {
    import spark.implicits._
    val docs = Seq((0L, "hello world"), (1L, "a" * 200)).toDF("doc_id", "text")
    val withBin = Multimodal.withPayload(docs, "text")

    val meta = withBin.select($"doc_id", $"media_meta.n_bytes").orderBy("doc_id").collect()
    assert(meta(0).getLong(1) == 11L)
    assert(meta(1).getLong(1) == 200L)

    val feats = Multimodal.extractFeatures(withBin, "doc_id").orderBy("doc_id").collect()
    val f0 = feats(0).getAs[scala.collection.Seq[Double]]("features")
    assert(f0.length == Multimodal.featureDim)
    assert(math.abs(f0.sum - 1.0) < 1e-9) // normalized histogram
    // deterministic: 'a'*200 → every byte in one bucket
    val f1 = feats(1).getAs[scala.collection.Seq[Double]]("features")
    assert(f1.count(_ > 0) == 1 && math.abs(f1.max - 1.0) < 1e-9)

    val frames = Multimodal.sampleFrames(withBin, frameBytes = 64, everyK = 2)
      .select($"doc_id", $"n_frames_sampled").orderBy("doc_id").collect()
    assert(frames(0).getLong(1) == 1L) // 11 bytes → 1 frame → keep frame 0
    assert(frames(1).getLong(1) == 2L) // 200 bytes → 4 frames → keep 0 and 2
  }
}
