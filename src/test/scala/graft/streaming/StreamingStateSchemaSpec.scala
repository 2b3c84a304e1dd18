package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.sql.{Dataset, Encoder}
import org.scalatest.funsuite.AnyFunSuite

import java.time.Duration

/**
 * Schema pins for the streaming dedup family. The group key and state
 * schemas are what a checkpoint's state store was written with — Spark
 * refuses to restart a query whose state schema moved — and the verdict
 * schema is what every downstream `foreachBatch` consumer reads. All three
 * are pinned to literals, read both from the named encoders and from the
 * `FlatMapGroupsWithState` node each operator's `judged` / `judgedTtl`
 * actually plans.
 *
 * Rendering: `name:type`, `!` after a non-nullable field or a
 * `containsNull = false` array element — nullability is part of the
 * state-store compatibility check, so the pin records it.
 */
class StreamingStateSchemaSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  private def render(t: DataType): String = t match {
    case s: StructType => s.fields.map { f =>
        s"${f.name}:${render(f.dataType)}${if (f.nullable) "" else "!"}"
      }.mkString("struct<", ",", ">")
    case a: ArrayType =>
      s"array<${render(a.elementType)}${if (a.containsNull) "" else "!"}>"
    case o => o.simpleString
  }

  private def pin(enc: Encoder[_], expected: String): Unit =
    assert(render(enc.schema) == expected)

  /** (group key type, state schema, verdict schema) of a wired operator. */
  private def planned(ds: Dataset[_]): (String, String, String) = {
    val nodes = ds.queryExecution.analyzed.collect {
      case f: FlatMapGroupsWithState => f
    }
    assert(nodes.size == 1)
    (nodes.head.groupingAttributes.map(a => render(a.dataType)).mkString(","),
      render(nodes.head.stateEncoder.schema), render(ds.schema))
  }

  private def empty[T: Encoder]: Dataset[T] = spark.emptyDataset[T]
  private val horizon = Duration.ofMinutes(1)

  private val exactVerdict = "struct<docId:bigint!,keeperId:bigint!,keep:boolean!>"
  private val seen = "struct<keeperId:bigint!,lastSeenMs:bigint!>"
  private val nearState =
    "struct<entries:array<struct<id:bigint!,sig:array<bigint!>,lastSeenMs:bigint!>>>"
  private val nearVerdict = "struct<docId:bigint!,candId:bigint,est:double,text:string>"
  private val embState = "struct<entries:array<struct<id:bigint!,vec:array<double!>," +
    "norm:double!,lastSeenMs:bigint!>>>"
  private val embVerdict =
    "struct<docId:bigint!,candId:bigint,est:double,carry:boolean!,vec:array<double!>>"
  private val adcState =
    "struct<entries:array<struct<id:bigint!,slo:bigint!,shi:bigint!,lastSeenMs:bigint!>>>"
  private val adcVerdict = embVerdict
  private val mediaState =
    "struct<entries:array<struct<id:bigint!,sig:bigint!,lastSeenMs:bigint!>>>"
  private val mediaVerdict = "struct<docId:bigint!,candId:bigint,est:double,carry:boolean!>"

  test("StreamingDedup: Seen state, Judged / JudgedHash verdicts, string key") {
    import StreamingDedup._
    pin(seenEnc, seen)
    pin(judgedEnc, exactVerdict)
    pin(judgedHashEnc,
      "struct<docId:bigint!,contentHash:string,keeperId:bigint!,keep:boolean!>")
    assert(planned(StreamingDedup.judged(empty[Doc])) == (("string", seen, exactVerdict)))
    assert(planned(judgedTtl(empty[TimedDoc], horizon, "5 seconds")) ==
      (("string", seen, exactVerdict)))
  }

  test("StreamingNearDedup: Bucket state, BandVerdict, string key") {
    import StreamingNearDedup._
    pin(bucketEnc, nearState)
    pin(bandVerdictEnc, nearVerdict)
    val op = StreamingNearDedup()
    assert(planned(op.judged(empty[TextDoc])) == (("string", nearState, nearVerdict)))
    assert(planned(op.judgedTtl(empty[TimedTextDoc], horizon, "5 seconds")) ==
      (("string", nearState, nearVerdict)))
  }

  test("StreamingEmbDedup: EmbBucket state, EmbBandVerdict, string key") {
    import StreamingEmbDedup._
    pin(embBucketEnc, embState)
    pin(embBandVerdictEnc, embVerdict)
    val op = StreamingEmbDedup()
    assert(planned(op.judged(empty[VecDoc])) == (("string", embState, embVerdict)))
    assert(planned(op.judgedTtl(empty[TimedVecDoc], horizon, "5 seconds")) ==
      (("string", embState, embVerdict)))
  }

  test("StreamingEmbDedupAdc: AdcBucket state, AdcBandVerdict, string key") {
    import StreamingEmbDedup.{TimedVecDoc, VecDoc, timedVecDocEnc, vecDocEnc}
    pin(StreamingEmbDedupAdc.adcBucketEnc, adcState)
    pin(StreamingEmbDedupAdc.adcBandVerdictEnc, adcVerdict)
    val op = StreamingEmbDedupAdc()
    assert(planned(op.judged(empty[VecDoc])) == (("string", adcState, adcVerdict)))
    assert(planned(op.judgedTtl(empty[TimedVecDoc], horizon, "5 seconds")) ==
      (("string", adcState, adcVerdict)))
  }

  test("StreamingEmbDedupCell: the Adc state and verdict, string key") {
    import StreamingEmbDedup.{TimedVecDoc, VecDoc, timedVecDocEnc, vecDocEnc}
    val op = StreamingEmbDedupCell(Array(0L -> Array.fill(64)(0.0)))
    assert(planned(op.judged(empty[VecDoc])) == (("string", adcState, adcVerdict)))
    assert(planned(op.judgedTtl(empty[TimedVecDoc], horizon, "5 seconds")) ==
      (("string", adcState, adcVerdict)))
  }

  test("StreamingMediaDedup: MediaBucket state, MediaBandVerdict, packed-long key") {
    import StreamingMediaDedup._
    pin(mediaBucketEnc, mediaState)
    pin(mediaBandVerdictEnc, mediaVerdict)
    val op = StreamingMediaDedup()
    assert(planned(op.judged(empty[MediaDoc])) == (("bigint", mediaState, mediaVerdict)))
    assert(planned(op.judgedTtl(empty[TimedMediaDoc], horizon, "5 seconds")) ==
      (("bigint", mediaState, mediaVerdict)))
  }
}
