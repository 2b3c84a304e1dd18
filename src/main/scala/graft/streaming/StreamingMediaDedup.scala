package graft.streaming

import graft.llm.Multimodal
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/**
 * Streaming PERCEPTUAL media dedup — the media pillar's member of the
 * streaming dedup family ([[StreamingDedup]] exact / [[StreamingNearDedup]]
 * MinHash / [[StreamingEmbDedup]] sign-LSH): a continuous media feed is
 * judged against every previously kept item at sketch Hamming ≤
 * `maxHamming` without re-scanning anything, because the kept corpus lives
 * in the state store as its wide-combination-key index
 * ([[graft.llm.Dedup.comboKeyRows]]' C(6, 6−r) 30-bit keys — the
 * pigeonhole-EXHAUSTIVE generator that survives 10M+ rows, reused verbatim
 * from the batch ring): any pair within the radius shares ≥ 1 key, so
 * streaming verdicts are EXACT, not probabilistic — unlike the MinHash
 * stream's component-match estimate. Each arrival is decoded + sketched
 * ONCE ([[Multimodal.phashKernel]] over the spectral decode — exact
 * integer bits, so a checkpoint replay or restart re-sketches
 * identically), exploded into its 20 keys, and verified in-bucket by
 * exact sketch Hamming (min distance, ties to the smaller id).
 *
 * Design notes, 100 TB shape:
 *  - State is 24 bytes per kept item per key (id + 60-bit sketch +
 *    last-seen ms — media BYTES never enter the state store) under an
 *    8-byte PACKED-LONG group key (combo index above the concatenated
 *    block bits — see [[comboKeys]]), 20 keys per item at r=3:
 *    ~480 B/kept item, the cheapest state in the family (the emb stream
 *    carries dims·8 B per band). Unbounded feeds use [[judgedTtl]]
 *    (event-time eviction, one dedup horizon of state).
 *  - Unsketchable media (null payload / featureless) have no perceptual
 *    identity: sentinel key, match nothing, register nothing, kept — the
 *    batch [[Multimodal.phashIncremental]] verdict.
 *  - STATE KEY FORMAT v2 (round 14): group keys are packed longs, not
 *    the previous `"ci:key"` strings — a checkpoint written by the
 *    string-keyed version cannot be restarted against this one. Spark's
 *    state-store schema validation rejects the restart AT STREAM START
 *    with `StateSchemaNotCompatible: Provided keySchema is different
 *    from existing state keySchema` (the stored `StructType(value:
 *    string)` vs this version's `StructType(value: bigint)`) — that
 *    error on a media-dedup checkpoint means "pre-v2 checkpoint": start
 *    the stream from a fresh checkpoint directory (state is one dedup
 *    horizon; it re-warms from the feed). Media
 *    ids must be nonnegative (the sentinel key space is `~id`) — a
 *    negative id fails the micro-batch loud rather than corrupting the
 *    key spaces, the same fail-loud id bound the batch ring's
 *    `frameSketches` enforces.
 *  - Per-doc verdicts reduce with [[StreamingNearDedup.verdicts]] (shared
 *    column contract; `est` = −hamming so the shared (est desc, id asc)
 *    best-candidate election picks the MINIMUM distance).
 */
final case class StreamingMediaDedup(maxHamming: Int = 3) {
  import BandedDedup.longKeyEnc
  import StreamingMediaDedup._
  require(maxHamming >= 0 && maxHamming <= 3,
    s"6-block combo keys are exhaustive only for hamming <= 3, got $maxHamming")

  private val nBlocks = 6
  private val blockBits = 10
  /** The C(6, 6−r) block-combination keys of one 60-bit sketch — the
    * kernel form of [[graft.llm.Dedup.comboKeyRows]]' expression (same
    * blocks, same packing), so stream and batch bucket identically. */
  private val combos: Seq[Seq[Int]] =
    (0 until nBlocks).combinations(nBlocks - maxHamming).toSeq.map(_.toSeq)

  /** One combo key = the combo index packed ABOVE the concatenated block
    * bits: `(ci << keyBits) | key`, where `keyBits = (6−r)·10` is the key
    * width of THIS radius (30..60 bits) — at r=3 the C(6,3)=20 combo
    * indexes need 5 bits, which fit above a 30-bit key but NOT above a
    * fixed 60-bit shift. One 8-byte long per group key instead of a
    * ~20-char string: the state store's per-group key shrinks ~4× and
    * grouping hashes an integer, not a string. */
  private val comboKeyBits = (nBlocks - maxHamming) * blockBits
  private def comboKeys(sig: Long): Iterator[Long] =
    combos.iterator.zipWithIndex.map { case (c, ci) =>
      var key = 0L
      var pos = 0
      c.foreach { blk =>
        key |= ((sig >>> (blk * blockBits)) & ((1L << blockBits) - 1)) << (pos * blockBits)
        pos += 1
      }
      (ci.toLong << comboKeyBits) | key
    }

  /** Decode + sketch + explode one arrival into its key rows. Unsketchable
    * media get a per-item SENTINEL key in the negative key space
    * (`~mediaId` — combo keys are nonnegative by construction, so the
    * spaces never collide for the nonnegative media ids the pillar uses),
    * preserving "match nothing, register nothing" without funneling every
    * unsketchable arrival through one bucket. `ts` rides on every row for
    * the TTL path's watermark. */
  private def explode(mediaId: Long, payload: Array[Byte],
                      ts: java.sql.Timestamp): Iterator[MediaBandRow] = {
    require(mediaId >= 0L,
      s"media ids are nonnegative (the sentinel key space is ~id), got $mediaId")
    val sig =
      if (payload == null) None
      else Multimodal.phashKernel(Multimodal.DecodeStub.decodeSpectral(payload))
    sig match {
      case None =>
        Iterator.single(MediaBandRow(mediaId, ~mediaId, 0L,
          sketchable = false, carry = true, ts))
      case Some(s) =>
        comboKeys(s).zipWithIndex.map { case (k, i) =>
          MediaBandRow(mediaId, k, s, sketchable = true, carry = i == 0, ts)
        }
    }
  }

  /** The per-bucket judgment ([[BandedDedup.Judge]]): score = −(exact
    * sketch Hamming) against threshold −maxHamming, so the family's
    * (score desc, id asc) election picks the minimum distance, ties to the
    * smaller id — and `est` = −hamming is what [[StreamingNearDedup.verdicts]]
    * reduces. */
  private[streaming] val judge = new BandedDedup.Judge[MediaBandRow, MediaEntry, MediaBucket, MediaBandVerdict] {
    val threshold: Double = -maxHamming.toDouble
    def rowId(r: MediaBandRow): Long = r.mediaId
    def rowTs(r: MediaBandRow): java.sql.Timestamp = r.ts
    def degenerate(r: MediaBandRow): Boolean = !r.sketchable
    def score(r: MediaBandRow, q: Double, e: MediaEntry): Double =
      -java.lang.Long.bitCount(e.sig ^ r.sig).toDouble
    def entry(r: MediaBandRow, q: Double, ts: Long): MediaEntry = MediaEntry(r.mediaId, r.sig, ts)
    def warmed(e: MediaEntry, ts: Long): MediaEntry = e.copy(lastSeenMs = ts)
    def entries(s: MediaBucket): Seq[MediaEntry] = s.entries
    def bucket(es: Seq[MediaEntry]): MediaBucket = MediaBucket(es)
    def verdict(r: MediaBandRow, candId: Option[Long], est: Option[Double]): MediaBandVerdict =
      MediaBandVerdict(r.mediaId, candId, est, r.carry)
  }

  /** Wire the stateful judgment over a media stream. Output is one verdict
    * per (media, key) — reduce with [[StreamingNearDedup.verdicts]]
    * (shared column contract) inside `foreachBatch`. */
  def judged(media: Dataset[MediaDoc]): Dataset[MediaBandVerdict] =
    judge.wired(media.flatMap(m => explode(m.mediaId, m.payload, null)), _.bandKey, None)

  /** Horizon-bounded perceptual dedup: verdicts match [[judged]] for any
    * arrival within `horizon` (event time) of the matched keeper's last
    * sighting, and bucket state plateaus at one horizon of kept items. */
  def judgedTtl(media: Dataset[TimedMediaDoc], horizon: java.time.Duration,
                watermarkDelay: String): Dataset[MediaBandVerdict] =
    judge.wired(media.flatMap(m => explode(m.mediaId, m.payload, m.ts)), _.bandKey,
      Some(horizon -> watermarkDelay))
}

object StreamingMediaDedup {

  final case class MediaDoc(mediaId: Long, payload: Array[Byte])
  /** TTL-horizon variant: `ts` is the event time the watermark and dedup
    * horizon are measured against. */
  final case class TimedMediaDoc(mediaId: Long, payload: Array[Byte],
                                 ts: java.sql.Timestamp)
  final case class MediaBandRow(mediaId: Long, bandKey: Long, sig: Long,
                                sketchable: Boolean, carry: Boolean,
                                ts: java.sql.Timestamp = null)
  final case class MediaEntry(id: Long, sig: Long, lastSeenMs: Long = 0L)
    extends BandedDedup.Keeper
  final case class MediaBucket(entries: Seq[MediaEntry])
  /** Column contract shared with [[StreamingNearDedup.verdicts]]:
    * `docId`, `candId`, `est` (here: −hamming, so est desc = min
    * distance), `carry`. */
  final case class MediaBandVerdict(docId: Long, candId: Option[Long],
                                    est: Option[Double], carry: Boolean)

  implicit val mediaDocEnc: Encoder[MediaDoc] = Encoders.product[MediaDoc]
  implicit val timedMediaDocEnc: Encoder[TimedMediaDoc] =
    Encoders.product[TimedMediaDoc]
  implicit val mediaBandRowEnc: Encoder[MediaBandRow] =
    Encoders.product[MediaBandRow]
  implicit val mediaBucketEnc: Encoder[MediaBucket] =
    Encoders.product[MediaBucket]
  implicit val mediaBandVerdictEnc: Encoder[MediaBandVerdict] =
    Encoders.product[MediaBandVerdict]
}
