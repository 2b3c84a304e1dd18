package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Construction-time threshold checks of the banded operators: a
  * threshold outside its score's range fails at construction, not
  * mid-stream. */
class StreamingThresholdSpec extends AnyFunSuite {

  test("StreamingNearDedup: a Jaccard threshold outside (0, 1] is rejected") {
    Seq(0.0, -1.0, -2.0, 1.01).foreach { t =>
      intercept[IllegalArgumentException](StreamingNearDedup(threshold = t))
    }
    assert(StreamingNearDedup(threshold = 1.0).threshold == 1.0)
  }

  test("StreamingEmbDedup: a cosine threshold outside (-1, 1] is rejected") {
    Seq(-1.0, -2.0, 1.01).foreach { t =>
      intercept[IllegalArgumentException](StreamingEmbDedup(threshold = t))
    }
    assert(StreamingEmbDedup(threshold = -0.99).threshold == -0.99)
  }
}
