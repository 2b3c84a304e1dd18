package graft.queries

import graft.queries.Materialized.Stores
import org.scalatest.funsuite.AnyFunSuite

/**
 * Layout pins for the head-aware stores. Kind, config and source table are
 * spelled into every deployed entry and head file name
 * (`<kind>_p<pathFp>_<contentFp>_<config>`, `<kind>_p<pathFp>_head_<config>.json`)
 * and the partition columns into every generation's directory layout, so a
 * rename here orphans every store written before it — and a
 * [[Materialized.FormatVersion]] change retires them all. Both are pinned
 * to literals so such a change has to be deliberate.
 */
class StoreLayoutSpec extends AnyFunSuite {

  private def layout(s: Materialized.Store) = (s.kind, s.config, s.table, s.partitionCols)

  test("store format version") {
    assert(Materialized.FormatVersion == 4)
  }

  test("every head-aware store: (kind, config, table, partition columns)") {
    val cell = Seq("centroid_id")
    val pins = Seq(
      Stores.MinhashSigs -> ("minhash_sigs", "n3_k128", "documents", Nil),
      Stores.EmbSigs -> ("emb_sigs", "d64_r16b128", "embeddings", Nil),
      Stores.ContentHashes -> ("content_hashes", "md5", "documents", Nil),
      Stores.HammingSigs -> ("hamming_sigs", "d64_b1_k128", "embeddings", Nil),
      Stores.Q8Codes -> ("q8_codes", "d64_s127", "embeddings", Nil),
      Stores.HammingSigsIvf -> ("hamming_sigs_ivf", "d64_k128_cell", "embeddings", cell),
      Stores.HammingSigsIvfRes ->
        ("hamming_sigs_ivfres", "d64_k128_rescell", "embeddings", cell),
      Stores.Q8CodesIvf -> ("q8_codes_ivf", "d64_s127_cell", "embeddings", cell),
      Stores.IvfIndex -> ("ivf_index", "k8_i2", "embeddings", cell),
      Stores.IvfCentroids -> ("ivf_centroids", "k8_i2", "embeddings", Nil),
      Stores.PqCodes -> ("pq_codes", "m8_k16_i2_res", "embeddings", cell))
    for ((store, pin) <- pins) assert(layout(store) == pin)
    assert(pins.map(_._1.kind).distinct.size == 11)
  }
}
