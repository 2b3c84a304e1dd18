package graft.queries

import graft.TestSpark
import graft.llm.{Dedup, Similarity}
import graft.queries.Materialized.Stores
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/**
 * The write-once / read-many contract of [[Materialized]]: pair tables are
 * built and published to parquet storage exactly once per (corpus,
 * configuration); a fresh consumer (session restart) reads the stored table
 * without rebuilding, and the scalar stats sidecar round-trips bit-exact.
 */
class MaterializedSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  /** Run `body` against an isolated store root, restoring the session's
    * store config and handle caches afterwards (other suites use the
    * default root). */
  private def withTempStore[A](body: java.nio.file.Path => A): A = {
    val root = Files.createTempDirectory("graft-mat-spec")
    val prev = spark.conf.getOption("spark.graft.materialized.dir")
    spark.conf.set("spark.graft.materialized.dir", root.toString)
    Materialized.clearSessionCache()
    try body(root)
    finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.materialized.dir", v)
        case None => spark.conf.unset("spark.graft.materialized.dir")
      }
      // drop handles pointing into the temp root so later suites re-resolve
      // against the default store
      Materialized.clearSessionCache()
    }
  }

  /** Every absorb-able store with its public reader and one novel batch in
    * its row schema (ids absent from every test corpus). */
  private def absorbable(): Seq[(Materialized.Store, (SparkSession, String) => DataFrame, DataFrame)] = {
    import spark.implicits._
    val docs = Seq((9301L, "a novel document absorbed into every text store"))
      .toDF("doc_id", "text")
    val vecs = Seq((9302L, Seq.tabulate(64)(i => math.cos(5.0 * i + 0.2))))
      .toDF("vec_id", "embedding")
    def fromVecs(s: Materialized.Store) = s.rowsOf(spark, TestSpark.sf, vecs, "vec_id", "embedding")
    Seq(
      (Stores.MinhashSigs, Materialized.minhashSignatures _,
        Stores.MinhashSigs.rowsOf(spark, TestSpark.sf, docs, "doc_id", "text")),
      (Stores.ContentHashes, Materialized.contentHashes _,
        docs.select(col("doc_id").as("id"), Dedup.contentHashSafe(col("text")).as("h"))),
      (Stores.EmbSigs, Materialized.embeddingSignatures _, fromVecs(Stores.EmbSigs)),
      (Stores.HammingSigs, Materialized.hammingSigs _, fromVecs(Stores.HammingSigs)),
      (Stores.Q8Codes, Materialized.q8Codes _, fromVecs(Stores.Q8Codes)),
      (Stores.HammingSigsIvf, Materialized.hammingSigsIvf _, fromVecs(Stores.HammingSigsIvf)),
      (Stores.HammingSigsIvfRes, Materialized.hammingSigsIvfRes _,
        fromVecs(Stores.HammingSigsIvfRes)),
      (Stores.Q8CodesIvf, Materialized.q8CodesIvf _, fromVecs(Stores.Q8CodesIvf)))
  }

  test("absorb returns the reader's view: every absorb-able store's absorb schema equals its reader's") {
    withTempStore { _ =>
      for ((store, reader, rows) <- absorbable()) {
        val absorbed = Materialized.absorb(spark, TestSpark.sf, store, rows, "schema-b1")
        assert(absorbed.schema == reader(spark, TestSpark.sf).schema, store.kind)
      }
    }
  }

  test("minhash pair table: built once, published atomically, reused from storage by a fresh consumer") {
    withTempStore { root =>
      val b0 = Materialized.buildsStarted.get()
      val first = Materialized.minhashPairs(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(Materialized.buildsStarted.get() == b0 + 1)
      // published as a committed parquet dir (atomic rename, _SUCCESS marker,
      // no leftover .tmp- staging dir)
      val published = Files.list(root.resolve(s"v${Materialized.FormatVersion}")).iterator().asScala.toSeq
      val tableDir = published.filter(_.getFileName.toString.startsWith("minhash_pairs_"))
      assert(tableDir.size == 1 && Files.exists(tableDir.head.resolve("_SUCCESS")))
      assert(!published.exists(_.getFileName.toString.contains(".tmp-")))

      // fresh consumer: drop in-session handles — the next call must take
      // the storage-read path, NOT rebuild
      Materialized.clearSessionCache()
      val second = Materialized.minhashPairs(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(Materialized.buildsStarted.get() == b0 + 1, "stored table must be reused")
      assert(second == first)
    }
  }

  test("minhash signature table: signed once, reused by a fresh consumer, matches a fresh signing") {
    withTempStore { _ =>
      val b0 = Materialized.buildsStarted.get()
      val stored = Materialized.minhashSignatures(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      assert(Materialized.buildsStarted.get() == b0 + 1)
      Materialized.clearSessionCache()
      val again = Materialized.minhashSignatures(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      assert(Materialized.buildsStarted.get() == b0 + 1, "stored signatures must be reused")
      assert(again == stored)
      val fresh = Dedup.minhashSignatureTable(
          Tables.documents(spark, TestSpark.sf), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      assert(fresh == stored, "stored signatures must equal a fresh signing")
    }
  }

  test("the MinHash and LSH signature stores sign a batch exactly as their base build signs the corpus") {
    withTempStore { _ =>
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      val docs = Tables.documents(spark, TestSpark.sf).where(col("doc_id") < 40)
      val vecs = Tables.embeddings(spark, TestSpark.sf).where(col("vec_id") < 40)
      val minhash = rows(Stores.MinhashSigs.rowsOf(spark, TestSpark.sf, docs, "doc_id", "text"))
      assert(minhash.nonEmpty)
      assert(minhash == rows(Materialized.minhashSignatures(spark, TestSpark.sf).where(col("id") < 40)))
      val lsh = rows(Stores.EmbSigs.rowsOf(spark, TestSpark.sf, vecs, "vec_id", "embedding"))
      assert(lsh.nonEmpty)
      assert(lsh == rows(Materialized.embeddingSignatures(spark, TestSpark.sf).where(col("id") < 40)))
    }
  }

  test("embedding pair stats: one streaming agg, then the JSON sidecar round-trips bit-exact") {
    withTempStore { root =>
      val b0 = Materialized.buildsStarted.get()
      val first = Materialized.embeddingPairStats(spark, TestSpark.sf)
      assert(Materialized.buildsStarted.get() == b0 + 1)
      val sidecars = Files.list(root.resolve(s"v${Materialized.FormatVersion}")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("emb_pair_stats_")).toSeq
      assert(sidecars.size == 1 && sidecars.head.getFileName.toString.endsWith(".json"))

      Materialized.clearSessionCache()
      val second = Materialized.embeddingPairStats(spark, TestSpark.sf)
      assert(Materialized.buildsStarted.get() == b0 + 1, "stats sidecar must be reused")
      assert(second == first) // Double.toString round-trips exactly
      assert(first.minCosine.forall(_ >= 0.3))
    }
  }

  test("embedding pair table is stored at the consumed threshold and equals a fresh banded run") {
    withTempStore { _ =>
      val stored = Materialized.embeddingPairs(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fresh = Dedup.embeddingNearDupLsh(
          Tables.embeddings(spark, TestSpark.sf), "vec_id", "embedding",
          dims = 64, threshold = 0.45)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(stored == fresh)
      assert(stored.forall(_._3 >= 0.45), "no sub-threshold rows in the stored table")
    }
  }

  test("ngram and simhash stored pair tables equal fresh computations") {
    withTempStore { _ =>
      val docs = Tables.documents(spark, TestSpark.sf)
      val ngramStored = Materialized.ngramPairs(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // materialize=true + unpersist: release the intermediates the fresh
      // runs would otherwise leave cached across the suite
      val ngramDf = Dedup.ngramJaccard(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.6, materialize = true)
      val ngramFresh = ngramDf
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      ngramDf.unpersist(blocking = true)
      assert(ngramStored == ngramFresh)
      val simhashStored = Materialized.simhashPairs(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val simhashDf = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
        materialize = true)
      val simhashFresh = simhashDf
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      simhashDf.unpersist(blocking = true)
      assert(simhashStored == simhashFresh)
    }
  }

  test("ivf index: centroids + cell-partitioned assignment built once, reused from storage") {
    withTempStore { root =>
      val b0 = Materialized.buildsStarted.get()
      val first = Materialized.ivfIndex(spark, TestSpark.sf)
      val assignRows = first.assignment
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // two store entries: the centroid sidecar and the assignment table
      assert(Materialized.buildsStarted.get() == b0 + 2)
      val published = Files.list(root.resolve(s"v${Materialized.FormatVersion}")).iterator().asScala.toSeq
      val idxDir = published.filter(_.getFileName.toString.startsWith("ivf_index_"))
      assert(idxDir.size == 1 && Files.exists(idxDir.head.resolve("_SUCCESS")))
      // partitionBy(centroid_id) layout: the directory structure IS the
      // inverted file — one subdirectory per cell
      val cellDirs = Files.list(idxDir.head).iterator().asScala
        .filter(_.getFileName.toString.startsWith("centroid_id=")).toSeq
      assert(cellDirs.nonEmpty && cellDirs.size <= 8, cellDirs.toString)

      // fresh consumer reuses both tables without rebuilding
      Materialized.clearSessionCache()
      val second = Materialized.ivfIndex(spark, TestSpark.sf)
      assert(Materialized.buildsStarted.get() == b0 + 2, "stored index must be reused")
      val secondRows = second.assignment
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(secondRows == assignRows)

      // the stored assignment equals a fresh expression-path assignment
      // against the stored centroids
      val fresh = graft.llm.Similarity.ivfAssign(
          Tables.embeddings(spark, TestSpark.sf), "vec_id", "embedding", second.centroids)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(assignRows == fresh)
    }
  }

  /** Write a tiny `documents.parquet` corpus under `dir` (regenerable). */
  private def writeCorpus(dir: java.nio.file.Path, salt: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $salt"),
      (2L, s"alpha beta gamma delta epsilon zeta $salt"),
      (3L, "completely unrelated content with different words entirely"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  private def minhashDirs(root: java.nio.file.Path): Seq[String] = {
    val v = root.resolve(s"v${Materialized.FormatVersion}")
    if (!Files.isDirectory(v)) Nil
    else Files.list(v).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("minhash_pairs_")).toSeq
  }

  test("build-time retention: a regenerated corpus's superseded table is swept; a parallel corpus survives") {
    withTempStore { root =>
      // age gate 0 so the sweep fires immediately (production default 1 h)
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        val corpus = Files.createTempDirectory("graft-gc-corpus")
        writeCorpus(corpus, "gen1")
        Materialized.minhashPairs(spark, corpus.toString).count()
        // a PARALLEL corpus (different input path) sharing the store root
        Materialized.minhashPairs(spark, TestSpark.sf).count()
        val before = minhashDirs(root)
        assert(before.size == 2, before.toString)

        // regenerate the corpus in place with different content → new
        // fingerprint; the rebuild must sweep the superseded generation
        writeCorpus(corpus, "gen2-different-content")
        Materialized.clearSessionCache()
        Materialized.minhashPairs(spark, corpus.toString).count()
        val after = minhashDirs(root)
        assert(after.size == 2, s"superseded entry must be gone: $after")
        assert(after.toSet.intersect(before.toSet).size == 1,
          "the parallel corpus's entry must survive; the regenerated corpus's old entry must not\n" +
            s"before=$before after=$after")
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("explicit gc keeps the newest generation per (kind, corpus, config) and honors the age gate") {
    withTempStore { root =>
      val corpus = Files.createTempDirectory("graft-gc-corpus2")
      writeCorpus(corpus, "gen1")
      Materialized.minhashPairs(spark, corpus.toString).count()
      // second generation; default 1 h age gate keeps the old entry at build
      writeCorpus(corpus, "gen2")
      Materialized.clearSessionCache()
      Materialized.minhashPairs(spark, corpus.toString).count()
      assert(minhashDirs(root).size == 2)

      // everything is seconds old: an age-gated sweep deletes nothing
      assert(Materialized.gc(spark).isEmpty)
      assert(minhashDirs(root).size == 2)

      // age gate 0: the superseded generation goes, the newest stays
      val deleted = Materialized.gc(spark, olderThanMs = 0)
      assert(deleted.size == 1, deleted.toString)
      val left = minhashDirs(root)
      assert(left.size == 1)
      // the survivor still serves reads
      Materialized.clearSessionCache()
      assert(Materialized.minhashPairs(spark, corpus.toString).count() >= 1)
    }
  }

  private def sigDirs(root: java.nio.file.Path): Seq[String] = {
    val v = root.resolve(s"v${Materialized.FormatVersion}")
    if (!Files.isDirectory(v)) Nil
    else Files.list(v).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("minhash_sigs_") && !n.contains(".json")).toSeq
  }

  test("absorb: batch-sized delta published, corpus signed once, exactly-once per batch id, overlapping ids not duplicated") {
    withTempStore { root =>
      import spark.implicits._
      val b0 = Materialized.buildsStarted.get()
      val base = Materialized.minhashSignatures(spark, TestSpark.sf)
      val nBase = base.count()
      assert(Materialized.buildsStarted.get() == b0 + 1)

      // kept batch: two novel docs plus one id that already exists in the
      // store (the overlap must NOT be duplicated by the absorb)
      val batch = Seq(
        (9001L, "entirely novel content alpha beta gamma delta epsilon"),
        (9002L, "another novel document with its own distinct words here"),
        (0L, "collides with an existing stored id and must be dropped"))
        .toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatureTable(batch, "doc_id", "text")
      val a0 = Materialized.absorbsPublished.get()
      val absorbed = Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, sigs, "batch-1")
      assert(Materialized.absorbsPublished.get() == a0 + 1)
      assert(Materialized.buildsStarted.get() == b0 + 1, "absorb must not re-sign the corpus")
      assert(absorbed.count() == nBase + 2)
      assert(absorbed.where(col("id") === 0L).count() == 1, "overlapping id must not duplicate")
      // the delta entry is batch-sized: base + one delta on disk
      assert(sigDirs(root).size == 2, sigDirs(root).toString)

      // fresh consumer resolves the head: corpus ∪ absorbed, no rebuild
      Materialized.clearSessionCache()
      val again = Materialized.minhashSignatures(spark, TestSpark.sf)
      assert(again.count() == nBase + 2)
      assert(again.where(col("id") === 9001L).count() == 1)
      assert(Materialized.buildsStarted.get() == b0 + 1)

      // exactly-once: re-absorbing the same batch id publishes nothing
      val replay = Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, sigs, "batch-1")
      assert(Materialized.absorbsPublished.get() == a0 + 1, "replay must be a no-op")
      assert(replay.count() == nBase + 2)

      // a second batch chains: corpus ∪ b1 ∪ b2
      val sigs2 = Dedup.minhashSignatureTable(
        Seq((9003L, "a third batch brings one more novel doc into the store"))
          .toDF("doc_id", "text"), "doc_id", "text")
      val v2 = Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, sigs2, "batch-2")
      assert(v2.count() == nBase + 3)
      assert(Materialized.buildsStarted.get() == b0 + 1, "corpus still signed exactly once")
    }
  }

  test("content-hash store: absorb exactly-once; day-2 bloom judgment resolves corpus ∪ kept(B1)") {
    withTempStore { _ =>
      import spark.implicits._
      val b0 = Materialized.buildsStarted.get()
      val nBase = Materialized.contentHashes(spark, TestSpark.sf).count()
      assert(Materialized.buildsStarted.get() == b0 + 1)
      def hashesOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id").as("id"), Dedup.contentHashSafe(col("text")).as("h"))
      // day 1: a novel doc is kept and its hash absorbed
      val b1 = Seq((9001L, "entirely novel content alpha beta gamma"))
        .toDF("doc_id", "text")
      val day1 = Dedup.dedupIncrementalBloomFromHashes(b1,
        Materialized.contentHashes(spark, TestSpark.sf), "doc_id", "text",
        expectedCorpusItems = 100000L)
      assert(day1.where(col("keep")).count() == 1)
      Materialized.absorb(spark, TestSpark.sf, Stores.ContentHashes, hashesOf(b1), "d1")
      // view grew by one; corpus hashed exactly once; replay is a no-op
      Materialized.clearSessionCache()
      assert(Materialized.contentHashes(spark, TestSpark.sf).count() == nBase + 1)
      assert(Materialized.buildsStarted.get() == b0 + 1)
      Materialized.absorb(spark, TestSpark.sf, Stores.ContentHashes, hashesOf(b1), "d1")
      assert(Materialized.contentHashes(spark, TestSpark.sf).count() == nBase + 1)
      // day 2: an exact copy of the absorbed B1 keep classifies as already
      // ingested THROUGH the head view — sketch and confirm, no corpus text
      val b2 = Seq((9002L, "entirely novel content alpha beta gamma"))
        .toDF("doc_id", "text")
      val day2 = Dedup.dedupIncrementalBloomFromHashes(b2,
        Materialized.contentHashes(spark, TestSpark.sf), "doc_id", "text",
        expectedCorpusItems = 100000L).collect()
      assert(day2.length == 1 && day2(0).getString(1) == "dup_of_corpus")
    }
  }

  test("content-hash absorb chain compacts to one live entry, ledger preserved, view intact after gc") {
    withTempStore { _ =>
      import spark.implicits._
      def hashesOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
        .select(col("doc_id").as("id"), Dedup.contentHashSafe(col("text")).as("h"))
      val nBase = Materialized.contentHashes(spark, TestSpark.sf).count()
      Materialized.absorb(spark, TestSpark.sf, Stores.ContentHashes,
        hashesOf(Seq((9001L, "novel compact one"))), "c1")
      Materialized.absorb(spark, TestSpark.sf, Stores.ContentHashes,
        hashesOf(Seq((9002L, "novel compact two"))), "c2")
      val compacted = Materialized.compact(spark, TestSpark.sf, Stores.ContentHashes)
      assert(compacted.count() == nBase + 2)
      // ledger survives the compaction: replayed batch ids stay exactly-once
      Materialized.clearSessionCache()
      Materialized.absorb(spark, TestSpark.sf, Stores.ContentHashes,
        hashesOf(Seq((9001L, "novel compact one"))), "c1")
      assert(Materialized.contentHashes(spark, TestSpark.sf).count() == nBase + 2)
      // superseded base+deltas age out; the compacted view keeps serving
      Materialized.gc(spark, olderThanMs = 0)
      Materialized.clearSessionCache()
      val after = Materialized.contentHashes(spark, TestSpark.sf)
      assert(after.count() == nBase + 2)
      assert(after.where(col("id").isin(9001L, 9002L)).count() == 2)
    }
  }

  test("absorb day-2 semantics: a B2 near-dup of a B1 keep classifies as dup_of the B1 doc") {
    withTempStore { _ =>
      import spark.implicits._
      val corpusDir = Files.createTempDirectory("graft-absorb-corpus")
      writeCorpus(corpusDir, "day0")
      val sfDir = corpusDir.toString
      val corpus = Tables.documents(spark, sfDir)

      // day 1: a novel doc arrives and is kept
      val b1 = Seq((100L, "the quick brown fox jumps over the lazy dog repeatedly today"))
        .toDF("doc_id", "text")
      val day1 = Dedup.dedupIncrementalNear(b1,
        Materialized.minhashSignatures(spark, sfDir), corpus, "doc_id", "text")
      assert(day1.where(col("keep")).count() == 1, "novel B1 doc must be kept")
      Materialized.absorb(spark, sfDir, Stores.MinhashSigs,
        Dedup.minhashSignatureTable(b1, "doc_id", "text"), "day1")

      // day 2: a near-copy of the B1 keep (last word dropped) arrives —
      // without absorption it would be judged novel; through the absorbed
      // store it classifies as a dup of doc 100
      val b2 = Seq((200L, "the quick brown fox jumps over the lazy dog repeatedly"))
        .toDF("doc_id", "text")
      val day2Docs = corpus.select(col("doc_id"), col("text")).unionByName(b1)
      val day2 = Dedup.dedupIncrementalNear(b2,
          Materialized.minhashSignatures(spark, sfDir), day2Docs, "doc_id", "text")
        .collect()
      assert(day2.length == 1)
      assert(day2(0).getLong(1) == 100L, s"B2 must be a dup of the absorbed B1 keep: ${day2(0)}")
      assert(!day2(0).getBoolean(3))
    }
  }

  test("corpus regeneration invalidates the head: rebuild serves the fresh corpus only and sweeps the absorb chain") {
    withTempStore { root =>
      import spark.implicits._
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        val corpusDir = Files.createTempDirectory("graft-regen-corpus")
        writeCorpus(corpusDir, "gen1")
        val sfDir = corpusDir.toString
        Materialized.minhashSignatures(spark, sfDir).count()
        Materialized.absorb(spark, sfDir, Stores.MinhashSigs,
          Dedup.minhashSignatureTable(
            Seq((500L, "an absorbed doc that dies with its corpus generation"))
              .toDF("doc_id", "text"), "doc_id", "text"), "b1")
        Materialized.clearSessionCache()
        assert(Materialized.minhashSignatures(spark, sfDir).count() == 4) // 3 + 1 absorbed

        // regenerate the corpus: the head's base fingerprint no longer
        // matches — the next read rebuilds from the new corpus, drops the
        // stale head, and the orphaned base+delta become sweepable
        writeCorpus(corpusDir, "gen2-regenerated")
        Materialized.clearSessionCache()
        val fresh = Materialized.minhashSignatures(spark, sfDir)
        assert(fresh.count() == 3, "absorbed rows must not survive a corpus regeneration")
        Materialized.gc(spark, olderThanMs = 0)
        val v = root.resolve(s"v${Materialized.FormatVersion}")
        val left = Files.list(v).iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("minhash_sigs_")).toSeq
        assert(left.count(!_.contains(".json")) == 1,
          s"only the fresh base generation may remain: $left")
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("absorb edges: zero-novel batch records ledger-only; a lost delta re-opens its batch id") {
    withTempStore { root =>
      import spark.implicits._
      val n0 = Materialized.minhashSignatures(spark, TestSpark.sf).count()
      def sigsOf(rows: Seq[(Long, String)]) = Dedup.minhashSignatureTable(
        rows.toDF("doc_id", "text"), "doc_id", "text")

      // batch whose only id already exists: NO delta entry may be written
      // (an empty partitioned dir has no readable footer and would poison
      // every later head read) — the ledger alone records the batch
      val a0 = Materialized.absorbsPublished.get()
      val dup = sigsOf(Seq((0L, "id collides with a stored row")))
      assert(Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, dup, "noop-1")
        .count() == n0)
      assert(Materialized.absorbsPublished.get() == a0, "no delta for a zero-novel batch")
      Materialized.clearSessionCache()
      assert(Materialized.minhashSignatures(spark, TestSpark.sf).count() == n0,
        "head view must stay readable after a ledger-only absorb")
      Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, dup, "noop-1")
      assert(Materialized.absorbsPublished.get() == a0, "ledger-only batch replays as no-op")

      // destroy an absorbed delta: the broken head degrades to the base
      // view AND re-opens the batch id, so re-absorbing recovers the rows
      // (the ledger must not swallow the recovery)
      val before = sigDirs(root).toSet
      val novel = sigsOf(Seq((9100L, "novel doc for the loss recovery test words")))
      Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, novel, "lost-1")
      assert(Materialized.minhashSignatures(spark, TestSpark.sf).count() == n0 + 1)
      val deltaDir = (sigDirs(root).toSet -- before).head
      val v = root.resolve(s"v${Materialized.FormatVersion}")
      Files.walk(v.resolve(deltaDir)).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      Materialized.clearSessionCache()
      assert(Materialized.minhashSignatures(spark, TestSpark.sf).count() == n0,
        "a lost delta must degrade reads to the surviving entries")
      val a1 = Materialized.absorbsPublished.get()
      Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs, novel, "lost-1")
      assert(Materialized.absorbsPublished.get() == a1 + 1,
        "the broken head must re-open the lost batch id for recovery")
      assert(Materialized.minhashSignatures(spark, TestSpark.sf).count() == n0 + 1)
    }
  }

  test("compaction: absorb chain rewritten to one entry, ledger preserved, content identical") {
    withTempStore { root =>
      import spark.implicits._
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        val b0 = Materialized.buildsStarted.get()
        Materialized.minhashSignatures(spark, TestSpark.sf).count()
        def sigsOf(rows: Seq[(Long, String)]) = Dedup.minhashSignatureTable(
          rows.toDF("doc_id", "text"), "doc_id", "text")
        Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs,
          sigsOf(Seq((9001L, "first absorbed batch novel doc with its words"))), "c-b1")
        Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs,
          sigsOf(Seq((9002L, "second absorbed batch novel doc other words"))), "c-b2")
        val before = Materialized.minhashSignatures(spark, TestSpark.sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(sigDirs(root).size == 3) // base + 2 deltas

        val compacted = Materialized.compact(spark, TestSpark.sf, Stores.MinhashSigs)
        assert(compacted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == before,
          "compaction must not change the view's content")
        assert(sigDirs(root).size == 1, s"superseded chain must be swept: ${sigDirs(root)}")
        assert(Materialized.buildsStarted.get() == b0 + 1, "compaction copies, never re-signs")

        // ledger preserved: absorbed batch ids replay as no-ops
        val a0 = Materialized.absorbsPublished.get()
        Materialized.absorb(spark, TestSpark.sf, Stores.MinhashSigs,
          sigsOf(Seq((9001L, "first absorbed batch novel doc with its words"))), "c-b1")
        assert(Materialized.absorbsPublished.get() == a0,
          "compaction must preserve the exactly-once ledger")

        // fresh consumer reads the compacted entry; compacting again no-ops
        Materialized.clearSessionCache()
        assert(Materialized.minhashSignatures(spark, TestSpark.sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == before)
        Materialized.compact(spark, TestSpark.sf, Stores.MinhashSigs)
        assert(sigDirs(root).size == 1)
        assert(Materialized.buildsStarted.get() == b0 + 1)
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("hamming sig store: absorb-able and compact-able like the other signature stores; absorbed rows replay the kernel codes") {
    withTempStore { root =>
      import spark.implicits._
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        def hamDirs = {
          val v = root.resolve(s"v${Materialized.FormatVersion}")
          if (!Files.isDirectory(v)) Nil
          else Files.list(v).iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith("hamming_sigs_") && !n.contains(".json")).toSeq
        }
        val n0 = Materialized.hammingSigs(spark, TestSpark.sf).count()
        val vNew = Array.tabulate(64)(i => math.sin(7.0 * i + 0.3)).toSeq
        val kept = graft.llm.Similarity.hammingSigRows(
          Seq((9001L, vNew)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", dims = 64)
        Materialized.absorb(spark, TestSpark.sf, Stores.HammingSigs, kept, "h-b1")
        val view = Materialized.hammingSigs(spark, TestSpark.sf)
        assert(view.count() == n0 + 1)
        // the absorbed row's codes are the kernel's, bit for bit
        val got = view.where(col("id") === 9001L)
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
        val (elo, ehi) = graft.llm.Similarity.superBitKernel(vNew)
        assert(got._2 == elo && got._3 == ehi)
        // exactly-once: batch id replays as a no-op
        val a0 = Materialized.absorbsPublished.get()
        Materialized.absorb(spark, TestSpark.sf, Stores.HammingSigs, kept, "h-b1")
        assert(Materialized.absorbsPublished.get() == a0)
        // compaction: chain → one entry, content identical
        assert(hamDirs.size == 2) // base + 1 delta
        val before = view.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val compacted = Materialized.compact(spark, TestSpark.sf, Stores.HammingSigs)
        assert(compacted.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == before,
          "compaction must not change the view's content")
        assert(hamDirs.size == 1, s"superseded chain must be swept: $hamDirs")
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("q8 code store: absorb-able and compact-able; absorbed rows replay the quantizer, coverage with the sig store holds") {
    withTempStore { root =>
      import spark.implicits._
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        def q8Dirs = {
          val v = root.resolve(s"v${Materialized.FormatVersion}")
          if (!Files.isDirectory(v)) Nil
          else Files.list(v).iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith("q8_codes_") && !n.contains(".json")).toSeq
        }
        val n0 = Materialized.q8Codes(spark, TestSpark.sf).count()
        // the two stored artifacts share the exclusion rule → same ids
        assert(Materialized.hammingSigs(spark, TestSpark.sf).count() == n0,
          "sig and code stores must cover the same ids")
        val vNew = Array.tabulate(64)(i => math.sin(7.0 * i + 0.3)).toSeq
        val kept = Seq((9001L, vNew)).toDF("vec_id", "embedding")
        Materialized.absorb(spark, TestSpark.sf, Stores.Q8Codes,
          Stores.Q8Codes.rowsOf(spark, TestSpark.sf, kept, "vec_id", "embedding"), "q8-b1")
        val view = Materialized.q8Codes(spark, TestSpark.sf)
        assert(view.count() == n0 + 1)
        // the absorbed row's codes are the quantizer's, byte for byte
        val got = view.where(col("id") === 9001L).select("q").collect()
          .head.getSeq[Byte](0)
        val scale = vNew.map(math.abs).max
        val exp = vNew.map(x =>
          java.math.BigDecimal.valueOf(x / scale * 127.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).byteValue())
        assert(got == exp, s"absorbed codes must replay quantizeInt8")
        // exactly-once: batch id replays as a no-op
        val a0 = Materialized.absorbsPublished.get()
        Materialized.absorb(spark, TestSpark.sf, Stores.Q8Codes,
          Stores.Q8Codes.rowsOf(spark, TestSpark.sf, kept, "vec_id", "embedding"), "q8-b1")
        assert(Materialized.absorbsPublished.get() == a0)
        // compaction: chain → one entry, content identical
        assert(q8Dirs.size == 2) // base + 1 delta
        val before = view.select("id", "q").collect()
          .map(r => (r.getLong(0), r.getSeq[Byte](1))).toSet
        val compacted = Materialized.compact(spark, TestSpark.sf, Stores.Q8Codes)
        assert(compacted.select("id", "q").collect()
          .map(r => (r.getLong(0), r.getSeq[Byte](1))).toSet == before,
          "compaction must not change the view's content")
        assert(q8Dirs.size == 1, s"superseded chain must be swept: $q8Dirs")
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("cell-partitioned stores compact: absorb chain folds to one partitioned entry, content identical, probed-cell pruning preserved") {
    withTempStore { root =>
      import spark.implicits._
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        def entries(prefix: String) = {
          val v = root.resolve(s"v${Materialized.FormatVersion}")
          if (!Files.isDirectory(v)) Nil
          else Files.list(v).iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith(prefix) && !n.contains(".json")).toSeq
        }
        val n0 = Materialized.q8CodesIvf(spark, TestSpark.sf).count()
        val vNew = Array.tabulate(64)(i => math.cos(3.0 * i + 0.7)).toSeq
        val kept = Seq((9101L, vNew)).toDF("vec_id", "embedding")
        Materialized.absorb(spark, TestSpark.sf, Stores.Q8CodesIvf,
          Stores.Q8CodesIvf.rowsOf(spark, TestSpark.sf, kept, "vec_id", "embedding"), "q8i-b1")
        val view = Materialized.q8CodesIvf(spark, TestSpark.sf)
        assert(view.count() == n0 + 1)
        val before = view.select("id", "centroid_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(entries("q8_codes_ivf_").size == 2) // base + 1 delta
        val compacted = Materialized.compact(spark, TestSpark.sf, Stores.Q8CodesIvf)
        assert(compacted.select("id", "centroid_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet == before,
          "compaction must not change the view's content")
        assert(entries("q8_codes_ivf_").size == 1,
          s"superseded chain must be swept: ${entries("q8_codes_ivf_")}")
        // the compacted entry is still cell-partitioned: a probed-cell
        // restriction prunes partitions at the scan, keeper's cell included
        val keeperCell = before.find(_._1 == 9101L).get._2
        val pruned = compacted.where(col("centroid_id") === keeperCell)
        val p = pruned.queryExecution.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
          "compacted cell store must still partition-prune\n" + p)
        assert(pruned.select("id").as[Long].collect().contains(9101L))
        // exactly-once survives the fold: the absorbed batch id replays
        // as a no-op against the compacted head
        val a0 = Materialized.absorbsPublished.get()
        Materialized.absorb(spark, TestSpark.sf, Stores.Q8CodesIvf,
          Stores.Q8CodesIvf.rowsOf(spark, TestSpark.sf, kept, "vec_id", "embedding"), "q8i-b1")
        assert(Materialized.absorbsPublished.get() == a0,
          "compaction must preserve the exactly-once ledger")
        // the sig-store twins fold the same way (content-identical)
        val sigBefore = Materialized.hammingSigsIvfRes(spark, TestSpark.sf)
          .select("id").as[Long].collect().toSet
        Materialized.compact(spark, TestSpark.sf, Stores.HammingSigsIvfRes)
        assert(Materialized.hammingSigsIvfRes(spark, TestSpark.sf)
          .select("id").as[Long].collect().toSet == sigBefore)
        // every absorb-able store folds the same way: a novel batch absorbed,
        // then compacted to ONE entry with the view's content unchanged
        def content(df: DataFrame) = df.collect().map(_.toSeq.map {
          case a: Array[_] => a.toSeq
          case x => x
        }).toSet
        for ((store, reader, rows) <- absorbable()) {
          val n0 = reader(spark, TestSpark.sf).count()
          Materialized.absorb(spark, TestSpark.sf, store, rows, "fold-b1")
          val before = content(reader(spark, TestSpark.sf))
          assert(before.size == n0 + 1, store.kind)
          assert(content(Materialized.compact(spark, TestSpark.sf, store)) == before,
            s"${store.kind}: compaction must not change the view's content")
          val live = Materialized.storeStatus(spark).filter(_.kind == store.kind)
          assert(live.size == 1, s"${store.kind}: superseded chain must be swept: $live")
        }
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("ivf append: batch assigned against stored centroids, appended generation serves searches, base stays pinned") {
    withTempStore { root =>
      import org.apache.spark.sql.functions.transform
      val sf = TestSpark.sf
      val base = Materialized.ivfIndex(spark, sf)
      val nBase = base.assignment.count()
      val b0 = Materialized.buildsStarted.get()

      val batch = Tables.embeddings(spark, sf).where(col("vec_id") < 3)
        .select((col("vec_id") + 8000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val appended = Materialized.appendIvfIndex(spark, sf, batch,
        "vec_id", "embedding", "b1")
      // no retrain, no corpus re-read: zero new builds, one delta publish
      assert(Materialized.buildsStarted.get() == b0, "append must not rebuild anything")
      assert(appended.assignment.count() == nBase + 3)
      // the delta is cell-partitioned like the base (pruning works across
      // generations)
      val v = root.resolve(s"v${Materialized.FormatVersion}")
      val idxDirs = Files.list(v).iterator().asScala
        .filter { p => val n = p.getFileName.toString
          n.startsWith("ivf_index_") && !n.contains(".json") }.toSeq
      assert(idxDirs.size == 2, idxDirs.toString)
      assert(idxDirs.forall(d => Files.list(d).iterator().asScala
        .exists(_.getFileName.toString.startsWith("centroid_id="))))

      // appended cells match a fresh assignment against the stored centroids
      val fresh = graft.llm.Similarity.ivfAssign(batch, "vec_id", "embedding",
          appended.centroids)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val stored = appended.assignment.where(col("id") >= 8000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stored == fresh)

      // the pinned base view is unchanged; the head view serves the union,
      // also for a fresh consumer; replay of the same batch id is a no-op
      assert(Materialized.ivfIndex(spark, sf).assignment.count() == nBase)
      Materialized.clearSessionCache()
      assert(Materialized.ivfIndexCurrent(spark, sf).assignment.count() == nBase + 3)
      val a0 = Materialized.absorbsPublished.get()
      Materialized.appendIvfIndex(spark, sf, batch, "vec_id", "embedding", "b1")
      assert(Materialized.absorbsPublished.get() == a0)

      // a probed search over the appended index finds the appended copy at
      // cosine 1.0 AND the scan still partition-prunes on centroid_id
      val qv = Tables.embeddings(spark, sf).where(col("vec_id") === 1)
        .select(transform(col("embedding"), x => -x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      val hit = graft.llm.Similarity.ivfSearch(appended.assignment,
        appended.centroids, qv, k = 1, nprobe = 2)
      val p = hit.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
        "probed search over the appended generations must still prune\n" + p)
      val top = hit.collect()(0)
      assert(top.getLong(0) == 8001L && top.getDouble(2) == 1.0, top.toString)
    }
  }

  test("ivf cell split: skewed append re-balanced by local 2-means; searches, PQ remap and later appends stay correct") {
    withTempStore { root =>
      import spark.implicits._
      import graft.llm.Similarity
      val corpusDir = Files.createTempDirectory("graft-split-corpus")
      val dims = 64
      def unit(c: Int): Array[Double] =
        Array.tabulate(dims)(i => if (i == c * 8) 1.0 else 0.0)
      // hash-style jitter (frac of a scaled sine): plain sin(i·k + d) is
      // near-periodic — 17·710 ≈ 2π·1921 made indices 710 apart collide at
      // cosine ≈ 1 — while the frac step decorrelates every (c, i, d)
      def member(c: Int, i: Int, shift: Double = 0.0): Seq[Double] =
        Array.tabulate(dims) { d =>
          val s = math.sin((c + 1) * 12.9898 + (i + 1) * 78.233 +
            (d + 1) * 37.719) * 43758.5453
          unit(c)(d) + (if (d == 1) shift else 0.0) +
            0.1 * ((s - math.floor(s)) - 0.5)
        }.toSeq
      // balanced corpus: 8 clusters × 40 vectors; ids 0..7 are the exact
      // cluster centers — the trainer's deterministic id<k seeds
      val corpus =
        (0 until 8).map(c => (c.toLong, unit(c).toSeq)) ++
          (for (c <- 0 until 8; i <- 0 until 39)
            yield ((8 + c * 39 + i).toLong, member(c, i)))
      corpus.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(corpusDir.resolve("embeddings.parquet").toString)
      val sfDir = corpusDir.toString

      Materialized.ivfIndex(spark, sfDir)
      Materialized.pqCodes(spark, sfDir) // PQ ladder exists → split must remap

      // skewed feed: 300 vectors, bimodal around cluster 0 (±0.3 on dim 1)
      val batch = (0 until 300)
        .map(i => ((10000 + i).toLong,
          member(0, 1000 + i, shift = if (i % 2 == 0) 0.3 else -0.3)))
        .toDF("vec_id", "embedding")
      Materialized.appendIvfIndex(spark, sfDir, batch, "vec_id", "embedding", "skew1")

      def cellBytes(cid: Long): Long = {
        val v = root.resolve(s"v${Materialized.FormatVersion}")
        Files.list(v).iterator().asScala
          .filter(_.getFileName.toString.startsWith("ivf_index_"))
          .map(_.resolve(s"centroid_id=$cid"))
          .filter(Files.isDirectory(_))
          .flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)))
          .map(Files.size).sum
      }
      val hotBefore = Materialized.ivfIndexCurrent(spark, sfDir).assignment
        .groupBy("centroid_id").count().orderBy(col("count").desc)
        .head().getLong(0)
      val hotBytes = cellBytes(hotBefore)

      val report = Materialized.splitIvfCells(spark, sfDir, maxShare = 0.30)
      assert(report.splitCells.headOption.contains(hotBefore), report.toString)
      assert(report.maxShareBefore > 0.30 && report.maxShareAfter <= 0.30, report.toString)

      // integrity: every id exactly once — no losses, no resurfaced parent rows
      val cur = Materialized.ivfIndexCurrent(spark, sfDir)
      assert(cur.assignment.count() == 620 &&
        cur.assignment.select("id").distinct().count() == 620)
      assert(cur.centroids.count() >= 9) // each split: −1 parent, +2 children
      assert(!cur.centroids.select("centroid_id").as[Long].collect().contains(hotBefore))

      // a probe of the cell holding the query now reads fewer bytes than
      // the pre-split hot cell did
      val qv = member(0, 1000, shift = 0.3) // exact copy of batch id 10000
      val hit1 = Similarity.ivfSearch(cur.assignment, cur.centroids, qv,
        k = 1, nprobe = 1).head()
      assert(hit1.getLong(0) == 10000L && hit1.getDouble(2) == 1.0, hit1.toString)
      val childCell = hit1.getLong(1)
      assert(childCell != hotBefore && cellBytes(childCell) < (hotBytes * 3) / 4,
        s"probed bytes must drop: child=${cellBytes(childCell)} vs hot=$hotBytes")

      // full-probe search over the split index == brute force over the data
      val ivfTop = Similarity.ivfSearch(cur.assignment, cur.centroids, qv,
        k = 5, nprobe = 9).collect().map(_.getLong(0)).toSeq
      val bruteTop = Similarity.topK(cur.assignment, "id", "v", qv, 5)
        .collect().map(_.getLong(0)).toSeq
      assert(ivfTop == bruteTop, s"$ivfTop vs $bruteTop")

      // PQ remap: the stored code view equals a fresh re-encode of the
      // CURRENT assignment's residuals against the unchanged codebooks
      val books = Materialized.pqCodebooks(spark, sfDir)
      val fresh = Similarity.pqEncode(
          Similarity.ivfResiduals(cur.assignment, cur.centroids),
          "id", "rv", books, dims = 64, cellCol = Some("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      val stored = Materialized.pqCodesCurrent(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      assert(stored == fresh, "remapped PQ codes must equal a fresh residual encode")

      // maintenance composes: a post-split append assigns against the
      // REVISED centroids — it lands in a live cell (never the retired
      // parent) and a minimal probe finds it
      val batch2 = Seq((20000L, member(0, 2000, shift = 0.3)))
        .toDF("vec_id", "embedding")
      val after = Materialized.appendIvfIndex(spark, sfDir, batch2,
        "vec_id", "embedding", "post-split")
      val cell2 = after.assignment.where(col("id") === 20000L)
        .head().getLong(1)
      val live = after.centroids.select("centroid_id").as[Long].collect().toSet
      assert(cell2 != hotBefore && live.contains(cell2),
        s"post-split append must land in a live child cell ($cell2, live=$live)")
      val hit2 = Similarity.ivfSearch(after.assignment, after.centroids,
        member(0, 2000, shift = 0.3), k = 1, nprobe = 1).head()
      assert(hit2.getLong(0) == 20000L && hit2.getDouble(2) == 1.0, hit2.toString)

      // LIFECYCLE TAIL — periodic retrain folds base ∪ appends ∪ split
      // children into ONE fresh generation on fresh cell ids
      val maxBefore = after.centroids.select("centroid_id").as[Long]
        .collect().max
      val a0 = Materialized.absorbsPublished.get()
      val re = Materialized.retrainIvfIndex(spark, sfDir)
      val reCells = re.centroids.select("centroid_id").as[Long].collect()
      assert(reCells.length == 8 && reCells.forall(_ > maxBefore),
        s"retrained cells must be k fresh ids: ${reCells.toSeq}")
      assert(re.assignment.count() == 621 &&
        re.assignment.select("id").distinct().count() == 621)
      // exactly-once survives the retrain: the absorbed batch id replays
      // as a no-op and its rows (now inside the retrained entry) stay single
      Materialized.appendIvfIndex(spark, sfDir, batch, "vec_id", "embedding", "skew1")
      assert(Materialized.absorbsPublished.get() == a0, "replayed batch id must no-op")
      assert(Materialized.ivfIndexCurrent(spark, sfDir).assignment.count() == 621)
      // search over the retrained generation still equals brute force
      val reTop = Similarity.ivfSearch(re.assignment, re.centroids, qv,
        k = 5, nprobe = 8).collect().map(_.getLong(0)).toSeq
      assert(reTop == Similarity.topK(re.assignment, "id", "v", qv, 5)
        .collect().map(_.getLong(0)).toSeq)
      // PQ codes were rebuilt against the retrained cells (same codebooks)
      val reCodes = Materialized.pqCodesCurrent(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      val reFresh = Similarity.pqEncode(
          Similarity.ivfResiduals(re.assignment, re.centroids),
          "id", "rv", books, dims = 64, cellCol = Some("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      assert(reCodes == reFresh, "retrained PQ codes must equal a fresh residual encode")
      // a fresh consumer resolves the retrained heads from storage
      Materialized.clearSessionCache()
      assert(Materialized.ivfIndexCurrent(spark, sfDir).centroids
        .select("centroid_id").as[Long].collect().toSet == reCells.toSet)
    }
  }

  test("split generations survive an age-0 gc; compaction folds them into one live entry") {
    withTempStore { _ =>
      import spark.implicits._
      val corpusDir = Files.createTempDirectory("graft-splitgc-corpus")
      // 3 tight clusters of 8 (ids 0..7 seed the k=8 trainer; 5 cells
      // empty out deterministically) — tiny on purpose: this test is
      // about head/gc mechanics, not geometry
      val corpus = (0 until 24).map { i =>
        val c = i % 3
        (i.toLong, Seq.tabulate(64)(d =>
          (if (d == c * 8) 1.0 else 0.0) + 0.01 * math.sin(i * 7.3 + d)))
      }
      corpus.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(corpusDir.resolve("embeddings.parquet").toString)
      val sfDir = corpusDir.toString
      val rep = Materialized.splitIvfCells(spark, sfDir,
        maxShare = 0.0, maxRounds = 1)
      assert(rep.splitCells.size == 1, rep.toString)
      val n = Materialized.ivfIndexCurrent(spark, sfDir).assignment.count()

      // age-0 gc: everything is age-eligible, but the split delta and the
      // centroid revision are head-referenced — the live view must survive
      Materialized.gc(spark, olderThanMs = 0L)
      Materialized.clearSessionCache()
      assert(Materialized.ivfIndexCurrent(spark, sfDir).assignment.count() == n,
        "gc must not reclaim head-referenced split generations")

      // compaction folds base ∪ split delta into ONE entry; the live-cell
      // filter keeps hiding the copied retired-parent rows
      Materialized.compact(spark, sfDir, Stores.IvfIndex)
      val compacted = Materialized.ivfIndexCurrent(spark, sfDir)
      assert(compacted.assignment.count() == n &&
        compacted.assignment.select("id").distinct().count() == n)
      val roles = Materialized.storeStatus(spark).filter(_.kind == "ivf_index")
      assert(roles.count(_.role == "head-base") == 1 &&
        !roles.exists(_.role == "head-delta"),
        s"compaction must leave one live entry: $roles")
    }
  }

  test("knnJoinAuto: regime dispatch pinned, each choice bit-equal to the underlying join") {
    withTempStore { _ =>
      import graft.llm.Similarity
      val sf = TestSpark.sf
      val queries = Tables.embeddings(spark, sf).where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      def auto(allowApprox: Boolean = true, heapBound: Int = 4096,
               ivfBound: Int = 65536, pqMinQ: Int = 4096) =
        Materialized.knnJoinAuto(spark, sf, queries, "qid", "qv", k = 5,
          nprobe = 2, allowApprox = allowApprox, heapBound = heapBound,
          ivfBound = ivfBound, pqMinQ = pqMinQ)

      // no stored index, Q under the heap bound → exact broadcast heap
      val c1 = auto()
      assert(c1.strategy == "broadcast-heap", c1.strategy)
      val q1 = queries.select(col("qid"), col("qv").as("embedding"))
      assert(rows(c1.result) == rows(Similarity.knnJoin(
        Tables.embeddings(spark, sf), q1, "vec_id", "embedding", "qid", 5)))

      // no stored index, Q past the heap bound → the index is built once
      val c2 = auto(heapBound = 2)
      assert(c2.strategy == "ivf-probed (index built)", c2.strategy)
      val idx = Materialized.ivfIndexCurrent(spark, sf)
      val ivfRows = rows(Similarity.knnJoinIvf(idx.assignment, idx.centroids,
        queries, "qid", "qv", 5, 2))
      assert(rows(c2.result) == ivfRows)

      // stored index wins over the heap even at small Q
      val c3 = auto()
      assert(c3.strategy == "ivf-probed", c3.strategy)
      assert(rows(c3.result) == ivfRows)

      // PQ only when the code table exists AND Q is past pqMinQ AND
      // approximate ranking is allowed
      Materialized.pqCodes(spark, sf)
      val c4 = auto(pqMinQ = 2)
      assert(c4.strategy == "pq-adc", c4.strategy)
      assert(rows(c4.result) == rows(Similarity.knnJoinPq(
        Materialized.pqCodesCurrent(spark, sf), Materialized.pqCodebooks(spark, sf),
        idx.centroids, queries, "qid", "qv", 5, 2, residual = true)))
      assert(auto(pqMinQ = 2, allowApprox = false).strategy == "ivf-probed")
      assert(auto().strategy == "ivf-probed") // Q=3 ≤ default pqMinQ

      // Q past the probe-broadcast bound → fully distributed
      val c5 = auto(ivfBound = 2)
      assert(c5.strategy == "distributed", c5.strategy)
      assert(rows(c5.result) == rows(Similarity.knnJoinDistributed(
        idx.assignment, idx.centroids, queries, "qid", "qv", 5, 2)))
    }
  }

  test("storeStatus reports head roles: base, delta, headless, and unreferenced after regeneration") {
    withTempStore { _ =>
      import spark.implicits._
      spark.conf.set("spark.graft.materialized.gc.ageMs", "0")
      try {
        val corpusDir = Files.createTempDirectory("graft-status-corpus")
        writeCorpus(corpusDir, "gen1")
        val sfDir = corpusDir.toString
        // a headless entry (plain pair table) and an absorb-able chain
        Materialized.minhashPairs(spark, sfDir).count()
        Materialized.minhashSignatures(spark, sfDir).count()
        Materialized.absorb(spark, sfDir, Stores.MinhashSigs,
          Dedup.minhashSignatureTable(
            Seq((500L, "a novel absorbed document with several words"))
              .toDF("doc_id", "text"), "doc_id", "text"), "s1")
        val byRole = Materialized.storeStatus(spark).groupBy(_.role)
        assert(byRole("headless").exists(_.kind == "minhash_pairs"), byRole.toString)
        assert(byRole("head-base").exists(_.kind == "minhash_sigs"), byRole.toString)
        assert(byRole("head-delta").exists(_.kind == "minhash_sigs"), byRole.toString)
        assert(Materialized.storeStatus(spark).forall(e => e.bytes > 0 && e.files > 0))

        // regenerate the corpus WITHOUT reading: the old chain's head is
        // still on disk, so its entries stay referenced; the fresh base
        // built by the next read makes them unreferenced
        writeCorpus(corpusDir, "gen2")
        Materialized.clearSessionCache()
        Materialized.minhashSignatures(spark, sfDir).count() // rebuild, drops stale head
        val after = Materialized.storeStatus(spark)
          .filter(_.kind == "minhash_sigs").groupBy(_.role)
        assert(after.contains("headless") || after.contains("head-base"),
          s"fresh base missing: $after")
      } finally spark.conf.unset("spark.graft.materialized.gc.ageMs")
    }
  }

  test("concurrent same-JVM absorbers: both commit, shared ids written exactly once") {
    withTempStore { _ =>
      import spark.implicits._
      val corpusDir = Files.createTempDirectory("graft-conc-corpus")
      writeCorpus(corpusDir, "conc")
      val sfDir = corpusDir.toString
      Materialized.minhashSignatures(spark, sfDir).count() // base signed once up front
      def sigsOf(rows: Seq[(Long, String)]) = Dedup.minhashSignatureTable(
        rows.toDF("doc_id", "text"), "doc_id", "text")
      // two batches racing from two threads of ONE JVM (the two-streaming-
      // queries-one-driver shape): FileChannel.lock alone would throw
      // OverlappingFileLockException on same-JVM overlap, and an anti-join
      // resolved outside the lock would admit the shared id twice
      val bA = sigsOf(Seq((700L, "shared novel doc words present in both racing batches"),
                          (701L, "batch a private novel doc words")))
      val bB = sigsOf(Seq((700L, "shared novel doc words present in both racing batches"),
                          (702L, "batch b private novel doc words")))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val gate = new java.util.concurrent.CountDownLatch(1)
        val futs = Seq(("cc-a", bA), ("cc-b", bB)).map { case (bid, b) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              gate.await()
              Materialized.absorb(spark, sfDir, Stores.MinhashSigs, b, bid); ()
            }
          })
        }
        gate.countDown()
        futs.foreach(_.get()) // rethrows either absorber's failure
      } finally pool.shutdown()
      Materialized.clearSessionCache()
      val ids = Materialized.minhashSignatures(spark, sfDir)
        .select("id").as[Long].collect().toSeq
      assert(ids.count(_ == 700L) == 1,
        s"shared id absorbed ${ids.count(_ == 700L)} times — the novelty " +
          "anti-join must see the concurrent absorber's delta")
      assert(ids.contains(701L) && ids.contains(702L), ids.sorted.toString)
    }
  }

  test("storeStatus: in-flight tmp dirs are not entries; a broken head reports broken-head-ref") {
    withTempStore { root =>
      import spark.implicits._
      val corpusDir = Files.createTempDirectory("graft-status2-corpus")
      writeCorpus(corpusDir, "status2")
      val sfDir = corpusDir.toString
      Materialized.minhashSignatures(spark, sfDir).count()
      Materialized.absorb(spark, sfDir, Stores.MinhashSigs,
        Dedup.minhashSignatureTable(
          Seq((800L, "a freshly absorbed novel doc with words"))
            .toDF("doc_id", "text"), "doc_id", "text"), "st-1")
      val v = root.resolve(s"v${Materialized.FormatVersion}")
      // a staged in-flight copy (EntryName's trailing group would swallow
      // the .tmp- suffix) must not surface as a phantom entry
      val anyEntry = Files.list(v).iterator().asScala
        .filter(_.getFileName.toString.startsWith("minhash_sigs_")).toSeq.head
      val tmp = v.resolve(anyEntry.getFileName.toString + ".tmp-deadbeef")
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("part-0.parquet"), "staged")
      val st = Materialized.storeStatus(spark)
      assert(!st.exists(_.name.contains(".tmp-")), st.map(_.name).toString)
      // destroy the absorbed delta: reads no longer serve the chain, so
      // the report must say broken — not claim live head roles
      val delta = st.filter(e => e.kind == "minhash_sigs" && e.role == "head-delta")
      assert(delta.size == 1, st.toString)
      Files.walk(v.resolve(delta.head.name)).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      val st2 = Materialized.storeStatus(spark).filter(_.kind == "minhash_sigs")
      assert(st2.nonEmpty && st2.forall(_.role == "broken-head-ref"), st2.toString)
    }
  }

  test("no persisted tables linger after materialization (storage replaces caching)") {
    withTempStore { _ =>
      val before = spark.sparkContext.getPersistentRDDs.size
      Materialized.minhashPairs(spark, TestSpark.sf).count()
      Materialized.embeddingPairs(spark, TestSpark.sf).count()
      Materialized.embeddingPairStats(spark, TestSpark.sf)
      assert(spark.sparkContext.getPersistentRDDs.size == before)
    }
  }
}
