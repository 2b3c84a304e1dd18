package graft.queries

import graft.llm.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.collection.concurrent.TrieMap

/**
 * Storage-materialized pipeline intermediates — the production shape for
 * pair tables: the expensive candidate-generation + verification join runs
 * ONCE per (corpus, configuration) and its verified output is written to
 * parquet; every consumer (`dedup_minhash`, `dedup_clusters`,
 * `pipeline_training_set`, `dedup_embedding`) reads the written table, and a
 * RESTARTED session finds it on storage and skips the computation entirely.
 * At 100 TB this is not an optimization but the only viable shape — a
 * near-dup pair table feeds many downstream jobs across days, and each one
 * re-deriving it would re-pay the dominant shuffle of the whole pipeline.
 *
 * Store layout: `<root>/v<FormatVersion>/<kind>_p<pathFp>_<contentFp>_<config>/`
 * (parquet dir with `_SUCCESS`), plus `<...>.json` for scalar summaries.
 *  - `root` comes from `spark.graft.materialized.dir` (default: a
 *    `graft-materialized` dir under `java.io.tmpdir`); production would
 *    point it at shared storage (HDFS/S3 + a table format with a real
 *    commit protocol — the local-FS equivalent here is write-to-temp +
 *    atomic directory rename, so a killed writer never leaves a
 *    half-visible table).
 *  - `pathFp` keys the input table's PATH, `contentFp` its content (name,
 *    size, mtime, footer-tail sample per file): a regenerated input gets a
 *    fresh key instead of stale reuse, and retention ([[gc]] and the
 *    build-time [[sweepSuperseded]]) removes the superseded generation's
 *    table while leaving parallel corpora (other paths) alone.
 *  - `config` pins the operator parameters; [[FormatVersion]] must be
 *    bumped when stored SEMANTICS change so old rounds' tables can't leak
 *    into new code.
 *
 * The computation stays independently gated: LlmSpec re-derives pairs from
 * scratch and compares against the exact joins; MaterializedSpec proves the
 * write-once/read-many contract (a fresh consumer reuses the stored table
 * without rebuilding).
 */
object Materialized {

  /** Bump when the stored pair-table/summary semantics OR the entry-name
    * layout change (v2: `<kind>_p<pathFp>_<contentFp>_<config>` — the input
    * path got its own component so retention can tell a SUPERSEDED corpus
    * (same path, new content) from a PARALLEL one (different path, e.g.
    * sf0.01 and sf0.1 sharing the default store root); v3: IVF index rows
    * carry the int8 quantization (`scale`, `qcode`) for column-pruned
    * quantized searches). */
  // v4: the shared append batches (`ivf2_b1`/`rt_b1`) moved from fixed
  // +8000 ids to max(vec_id)-anchored ids — a warm v3 store would serve
  // the old generation's rows against oracles that expect the new ids
  private[queries] val FormatVersion = 4

  /** Build count, exposed so MaterializedSpec can prove storage reuse
    * (a second consumer must NOT increment it). */
  private[queries] val buildsStarted = new java.util.concurrent.atomic.AtomicInteger()

  /** Delta-publish count of [[absorb]], separate from [[buildsStarted]]
    * so specs can prove an absorb never re-signs the corpus AND that
    * re-absorbing an already-absorbed batch publishes nothing. */
  private[graft] val absorbsPublished = new java.util.concurrent.atomic.AtomicInteger()

  // in-session handle caches (the parquet scan is cheap, but consumers call
  // these per query — keep one DataFrame/stats handle per store path)
  private val dfCache = TrieMap.empty[String, DataFrame]
  private val statsCache = TrieMap.empty[String, EmbeddingPairStats]

  /** Test hook: drop in-session handles so the next call exercises the
    * storage-read path like a fresh session would. */
  private[graft] def clearSessionCache(): Unit = {
    dfCache.clear(); statsCache.clear()
  }

  private def storeRoot(spark: SparkSession): Path =
    Paths.get(spark.conf.get("spark.graft.materialized.dir",
      Paths.get(sys.props("java.io.tmpdir"), "graft-materialized").toString))

  /** The current [[FormatVersion]]'s directory under the store root. */
  private def vdir(spark: SparkSession): Path =
    storeRoot(spark).resolve(s"v$FormatVersion")

  /** Is the entry `name` a committed table (its `_SUCCESS` published)? */
  private def committed(spark: SparkSession, name: String): Boolean =
    Files.exists(vdir(spark).resolve(name).resolve("_SUCCESS"))

  private def md5Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Last `n` bytes of a file, base64 — a content sample for the corpus
    * fingerprint. For parquet the tail is the footer (row-group offsets,
    * column stats, metadata length), which changes with any data change, so
    * a corpus regenerated in place with identical file names/sizes inside
    * the filesystem's mtime granularity still gets a fresh fingerprint
    * instead of silently serving a stale table. */
  private def tailSample(f: Path, n: Int = 64): String = {
    val size = Files.size(f)
    val len = math.min(n.toLong, size).toInt
    if (len == 0) ""
    else {
      val ch = java.nio.channels.FileChannel.open(f)
      try {
        val buf = java.nio.ByteBuffer.allocate(len)
        var pos = size - len
        while (buf.hasRemaining) {
          val r = ch.read(buf, pos)
          if (r < 0) throw new java.io.EOFException(f.toString)
          pos += r
        }
        java.util.Base64.getEncoder.encodeToString(buf.array())
      } finally ch.close()
    }
  }

  /** Content fingerprint of the input table's storage files — (relative
    * name, size, mtime, footer-tail sample) of every file under
    * `<sfDir>/<table>.parquet`, hashed. Local-FS walk (the corpus is a
    * driver-provided directory); a production store would use the catalog's
    * snapshot/version id instead. */
  private def corpusFingerprint(sfDir: String, table: String): String = {
    val p = Paths.get(sfDir, s"$table.parquet")
    val entries =
      if (!Files.exists(p)) Seq(s"absent:$p")
      else if (Files.isDirectory(p)) {
        val s = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
            s"${p.relativize(f)}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}:${tailSample(f)}"
          }.toSeq.sorted
        } finally s.close()
      } else Seq(s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}:${tailSample(p)}")
    md5Hex(entries.mkString("\n")).take(16)
  }

  /** Stable key of the input table's PATH (not content) — the grouping
    * component retention uses to distinguish "this corpus was regenerated"
    * from "that is a different corpus". */
  private def pathFingerprint(sfDir: String, table: String): String =
    md5Hex(Paths.get(sfDir, s"$table.parquet").toAbsolutePath.toString).take(8)

  /** Store entry name: `<kind>_p<pathFp>_<contentFp>_<config>`. */
  private def entryName(kind: String, sfDir: String, table: String,
                        config: String): String =
    s"${kind}_p${pathFingerprint(sfDir, table)}_${corpusFingerprint(sfDir, table)}_$config"

  /** Parse of [[entryName]] — (kind, pathFp, contentFp, config). */
  private val EntryName = """(.+)_p([0-9a-f]{8})_([0-9a-f]{16})_(.+)""".r

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
          .foreach(Files.deleteIfExists(_))
      } finally s.close()
    }

  /** Staging leftovers older than this are fair game for the sweep below —
    * age-gated so a live concurrent writer's staging dir is never touched. */
  private val StaleTmpMs = 60L * 60 * 1000

  /** Remove `<dest>.tmp-*` siblings abandoned by a writer killed between
    * its parquet write and the atomic publish — otherwise each crash leaks
    * a full-size staged copy of the table under the store root. */
  private def sweepStaleTmp(dest: Path): Unit = {
    val parent = dest.getParent
    if (parent != null && Files.isDirectory(parent)) {
      val prefix = dest.getFileName.toString + ".tmp-"
      val cutoff = System.currentTimeMillis() - StaleTmpMs
      val s = Files.list(parent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(prefix))
          .filter(p => try Files.getLastModifiedTime(p).toMillis < cutoff
            catch { case _: java.io.IOException => false })
          .foreach(deleteRecursively)
      } finally s.close()
    }
  }

  /** Atomically publish `tmp` as `dest`: rename wins or loses cleanly — if
    * another writer published first, keep theirs and drop ours. */
  private def publish(tmp: Path, dest: Path): Unit =
    try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => deleteRecursively(tmp)
      case e: java.nio.file.FileSystemException =>
        if (Files.exists(dest)) deleteRecursively(tmp) else throw e
    }

  /** Age gate for retention sweeps (same idiom as [[StaleTmpMs]]): an entry
    * younger than this is never deleted, so a reader that resolved a path
    * moments before its corpus regenerated doesn't lose the files mid-scan.
    * Overridable for tests via `spark.graft.materialized.gc.ageMs`. */
  private def gcAgeMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.materialized.gc.ageMs", StaleTmpMs.toString).toLong

  /** Delete a store entry and drop any in-session handle pointing at it
    * (head-resolved handles key on a `;`-joined dir list, so match by
    * containment, not suffix). */
  private def deleteEntry(p: Path): Unit = {
    deleteRecursively(p)
    dfCache.keys.filter(_.contains(p.toString)).foreach(dfCache.remove)
    statsCache.keys.filter(_.contains(p.toString)).foreach(statsCache.remove)
  }

  /** Delete the entries of one (kind, input path, config) group that
    * `keep` does not name, past the age gate ([[gcAgeMs]]) — the one sweep
    * both retention points below share. */
  private def sweepGroup(spark: SparkSession, kind: String, pfp: String,
                         config: String, keep: Set[String]): Unit = {
    val vd = vdir(spark)
    if (!Files.isDirectory(vd)) return
    val cutoff = System.currentTimeMillis() - gcAgeMs(spark)
    val s = Files.list(vd)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { p =>
        p.getFileName.toString match {
          case n @ EntryName(`kind`, `pfp`, _, `config`) =>
            !keep.contains(n) &&
              (try Files.getLastModifiedTime(p).toMillis < cutoff
               catch { case _: java.io.IOException => false })
          case _ => false
        }
      }.toSeq.foreach(deleteEntry)
    } finally s.close()
  }

  /**
   * Retention at build time: publishing a fresh entry for (kind, input
   * path, config) supersedes every sibling with the SAME three components
   * but a DIFFERENT content fingerprint — the old corpus generation's
   * table, which nothing can resolve anymore (lookups always key on the
   * current fingerprint). Without this sweep the store grows by one dead
   * pair table per corpus regeneration — at 100 TB pair-table sizes an
   * operational leak, not a nicety. Entries for other input paths (a
   * parallel corpus, e.g. another scale factor in the shared default root)
   * are untouched, as is anything younger than the age gate.
   */
  private def sweepSuperseded(spark: SparkSession, live: String): Unit =
    live match {
      case EntryName(kind, pfp, cfp, cfg) =>
        // entries referenced by this group's head — when the head belongs to
        // the SAME corpus generation as the just-published entry — are live
        // (absorb deltas / a compacted chain whose names embed the ledger
        // hash, never the corpus fingerprint) and must survive a base
        // rebuild; a stale head (other baseFp) protects nothing
        val headRef = readHead(vdir(spark).resolve(s"${kind}_p${pfp}_head_$cfg.json"))
          .filter(_.baseFp == cfp).map(_.entries.toSet).getOrElse(Set.empty)
        sweepGroup(spark, kind, pfp, cfg, headRef + live)
      case _ => ()
    }

  /**
   * Explicit store-wide retention sweep: within every (kind, input path,
   * config) group the live set is what the group's head pointer references
   * (absorb-able stores) or, headless, the newest entry; other siblings
   * past `olderThanMs` are superseded corpus generations or orphaned
   * absorb deltas and are deleted. Returns the deleted paths. Entries of the current [[FormatVersion]]
   * only — older version directories belong to older code and are left
   * alone.
   */
  def gc(spark: SparkSession, olderThanMs: Long = StaleTmpMs): Seq[Path] = {
    val vd = vdir(spark)
    if (!Files.isDirectory(vd)) return Nil
    val (entries, headRefs) = {
      val s = Files.list(vd)
      try {
        import scala.jdk.CollectionConverters._
        val all = s.iterator().asScala.toSeq
          // in-flight `.tmp-` staging dirs are NOT entries: they must never
          // win the newest-mtime election below (electing one live would
          // condemn the real published entry); their own retention is
          // [[sweepStaleTmp]]'s age-gated sweep at the writer
          .filterNot(_.getFileName.toString.contains(".tmp-"))
        val es = all.flatMap { p =>
          p.getFileName.toString match {
            case EntryName(kind, pfp, _, cfg) =>
              val mtime = try Files.getLastModifiedTime(p).toMillis
                          catch { case _: java.io.IOException => Long.MaxValue }
              Some(((kind, pfp, cfg), p, mtime))
            case _ => None
          }
        }
        // entries referenced by a head pointer are the LIVE set of their
        // group — the head is the election, not mtime. Stale heads (corpus
        // regenerated) are removed on the next base rebuild, after which
        // their deltas stop being referenced and age out here. A BROKEN
        // head — one referencing entries that no longer exist — must not
        // elect: trusting it would mark the group's actual current entry
        // dead; it is deleted and the group falls back to newest-mtime
        // election. The listing snapshot alone must NOT condemn it — a
        // concurrent absorber may publish the referenced delta AFTER
        // `Files.list` (gc takes no lock on the fast path), so the verdict
        // is re-checked under the head lock with fresh existence probes.
        val names = all.map(_.getFileName.toString).toSet
        val refs = all.flatMap { p =>
          p.getFileName.toString match {
            case HeadFileName(kind, pfp, cfg) =>
              readHead(p) match {
                case Some(h) if h.entries.forall(names.contains) =>
                  h.entries.map(e => ((kind, pfp, cfg), e))
                case _ =>
                  withHeadLock(p) {
                    readHead(p) match {
                      case Some(h2) if h2.entries.forall(e =>
                          Files.exists(vd.resolve(e).resolve("_SUCCESS"))) =>
                        h2.entries.map(e => ((kind, pfp, cfg), e)) // live after all
                      case _ =>
                        Files.deleteIfExists(p)
                        Nil
                    }
                  }
              }
            case _ => Nil
          }
        }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        (es, refs)
      } finally s.close()
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dead = entries.groupBy(_._1).toSeq.flatMap { case (key, group) =>
      val live: Path => Boolean = headRefs.get(key) match {
        case Some(refs) => p => refs.contains(p.getFileName.toString)
        case None =>
          // newest mtime is live; the entry NAME breaks coarse-mtime-
          // granularity ties deterministically (two generations published
          // within one filesystem tick must elect the same survivor on
          // every gc run). The age gate stays the primary guard: nothing
          // younger than `olderThanMs` is ever deleted, so an unlucky-but-
          // deterministic tie can only retire an entry that already aged
          // past the gate — and a keyed lookup that loses its table simply
          // rebuilds (correctness is never at stake).
          val newest = group.maxBy(e => (e._3, e._2.getFileName.toString))
          p => p == newest._2
      }
      group.filterNot(e => live(e._2)).filter(_._3 < cutoff).map(_._2)
    }
    dead.foreach(deleteEntry)
    dead
  }

  @volatile private var warnedRebalanceNoAqe = false

  /** Compact output files on store writes (guide §6: small files hurt
    * twice — driver listing and per-file open cost; the 32-partition local
    * shuffles were writing 256-row tables as 32 KB-sized files, and every
    * store READ then paid a 32-file scan). REBALANCE is the AQE-sized
    * write shape: tiny stores collapse to one file per partition value,
    * corpus-scale stores split at the advisory partition size — the same
    * hint a 100 TB deployment wants in front of its writes (r15
    * optimization). */
  private def compactOnWrite(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    // REBALANCE is silently a no-op when AQE is disabled (r15 ADVICE) —
    // warn once so a non-adaptive session's 32-tiny-files-per-store write
    // shape is diagnosable instead of invisible.
    val aqe = df.sparkSession.conf
      .get("spark.sql.adaptive.enabled", "true").toBoolean
    if (!aqe && !warnedRebalanceNoAqe) {
      warnedRebalanceNoAqe = true
      System.err.println("[graft] spark.sql.adaptive.enabled=false: store " +
        "writes lose REBALANCE compaction (the hint is an AQE feature) — " +
        "expect one output file per shuffle partition")
    }
    if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols.map(col): _*)
    else df.hint("rebalance")
  }

  /** Write the store entry `name` — the ONE entry write path: staged in a
    * `.tmp-` sibling, compacted ([[compactOnWrite]]), partitioned by
    * `partitionCols`, then atomically published ([[publish]]). `df` is
    * evaluated only when the entry is not committed yet and unpersisted
    * after the write (no-op if it wasn't cached), so builders may hand
    * back their eagerly-cached form. Returns whether this call wrote. */
  private def writeEntry(spark: SparkSession, name: String,
                         partitionCols: Seq[String] = Nil)(df: => DataFrame): Boolean =
    !committed(spark, name) && {
      val dir = vdir(spark).resolve(name)
      Files.createDirectories(dir.getParent)
      sweepStaleTmp(dir)
      val tmp = dir.getParent.resolve(s"$name.tmp-${java.util.UUID.randomUUID()}")
      val rows = df
      val w = compactOnWrite(rows, partitionCols).write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
      rows.unpersist()
      publish(tmp, dir)
      true
    }

  /** Write-once / read-many parquet table: build + write on first use (per
    * corpus fingerprint + config, atomic publish), read back everywhere
    * else — including a fresh session after restart. */
  private def parquetBacked(spark: SparkSession, kind: String, config: String,
                            sfDir: String, inputTable: String,
                            partitionCols: Seq[String] = Nil)
                           (build: => DataFrame): DataFrame =
    entryTable(spark, entryName(kind, sfDir, inputTable, config), partitionCols)(build)

  /** [[parquetBacked]] under an already-resolved entry name. */
  private def entryTable(spark: SparkSession, name: String, partitionCols: Seq[String])
                        (build: => DataFrame): DataFrame = {
    val dir = vdir(spark).resolve(name)
    dfCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}|$dir", {
      if (writeEntry(spark, name, partitionCols) { buildsStarted.incrementAndGet(); build })
        sweepSuperseded(spark, name)
      spark.read.parquet(dir.toString)
    })
  }

  // ------------------------------------------------------------------
  // Head-aware stores: base + delta generations behind a head pointer
  // ------------------------------------------------------------------

  /** A store's rows for a batch of its source rows: `(spark, sfDir, batch,
    * idCol, valueCol)` — the value is a vector, or a text for the MinHash
    * store — `sfDir` being the store's own corpus (the cell stores assign
    * the batch against its pinned centroids). */
  private[graft] type BatchRows = (SparkSession, String, DataFrame, String, String) => DataFrame

  /**
   * One head-aware store, declared once: the pinned base read, the head
   * read, [[absorb]] and [[compact]] are all derived from this value, so
   * no operation can restate a kind, config, layout or base build
   * differently from the others.
   *
   *  - `kind`, `config` and `table` name the entries
   *    (`<kind>_p<pathFp>_<contentFp>_<config>`, keyed on
   *    `<sfDir>/<table>.parquet`);
   *  - `build` is the base generation — the corpus signed once, ever;
   *  - `partitionCols` is the write layout of every generation;
   *  - `columns` is the read projection, in order (empty: as stored); a
   *    partition column round-trips through directory names as an
   *    inferred int and is cast back to the build-time long;
   *  - `batchRows` signs a batch of source rows into the store's rows, with
   *    the parameters of its base build, where the store makes them.
   */
  private[graft] final case class Store(kind: String, config: String, table: String,
      build: (SparkSession, String) => DataFrame,
      partitionCols: Seq[String] = Nil, columns: Seq[String] = Nil,
      batchRows: Option[BatchRows] = None) {

    /** The read projection every derived view goes through. */
    def view(df: DataFrame): DataFrame =
      if (columns.isEmpty) df
      else df.select(columns.map(c =>
        if (partitionCols.contains(c)) col(c).cast("long").as(c) else col(c)): _*)

    /** This store's rows for the source batch `batch`, ready for [[absorb]]. */
    def rowsOf(spark: SparkSession, sfDir: String, batch: DataFrame,
               idCol: String, valueCol: String): DataFrame =
      batchRows.getOrElse(throw new UnsupportedOperationException(
        s"$kind rows are not made from a batch"))(spark, sfDir, batch, idCol, valueCol)
  }

  /** Head state of an absorb-able signature store: `baseFp` pins the corpus
    * generation the chain grew from (a regenerated corpus invalidates the
    * whole head), `absorbed` the exactly-once batch-id ledger, `entries`
    * the store-entry names whose union IS the current table —
    * `entries(0)` is the base (the corpus signed once, ever), each later
    * entry a small per-batch delta. */
  private final case class StoreHead(baseFp: String, absorbed: Seq[String],
                                     entries: Seq[String])

  private def renderHead(h: StoreHead): String = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"baseFp":"${h.baseFp}","absorbed":${arr(h.absorbed)},"entries":${arr(h.entries)}}"""
  }

  private def parseHead(json: String): Option[StoreHead] = {
    val re = """\{"baseFp":"([0-9a-f]{16})","absorbed":\[(.*?)\],"entries":\[(.*?)\]\}""".r
    def arr(s: String): Seq[String] =
      if (s.isEmpty) Nil
      else s.split(",").toSeq.map(_.stripPrefix("\"").stripSuffix("\""))
    json.trim match {
      case re(fp, abs, ents) => Some(StoreHead(fp, arr(abs), arr(ents)))
      case _ => None // corrupt head: fall back to the base build path
    }
  }

  /** Head pointer sidecar: `<kind>_p<pathFp>_head_<config>.json`. The
    * `head` token can never collide with a content fingerprint (not
    * 16-hex), so entry-name parsing ignores it. */
  private def headFile(spark: SparkSession, s: Store, sfDir: String): Path =
    vdir(spark).resolve(
      s"${s.kind}_p${pathFingerprint(sfDir, s.table)}_head_${s.config}.json")

  /** Parse of [[headFile]] names — (kind, pathFp, config). */
  private val HeadFileName = """(.+)_p([0-9a-f]{8})_head_(.+)\.json""".r

  private def readHead(hf: Path): Option[StoreHead] =
    if (Files.exists(hf)) parseHead(Files.readString(hf)) else None

  /** Entry name of `s`'s base generation for corpus fingerprint `fp`. */
  private def baseName(s: Store, sfDir: String, fp: String): String =
    s"${s.kind}_p${pathFingerprint(sfDir, s.table)}_${fp}_${s.config}"

  /** Entry name of a generation derived from `s`'s chain (absorb delta,
    * compaction, split or retrain output): the hash of `tag` stands where
    * a base carries the corpus fingerprint. */
  private def derivedName(s: Store, sfDir: String, tag: String): String =
    s"${s.kind}_p${pathFingerprint(sfDir, s.table)}_${md5Hex(tag).take(16)}_${s.config}"

  /** The head, IF it is live: base fingerprint matches the current corpus
    * fingerprint `fp` and every listed entry is a committed table. A
    * lost/corrupt delta degrades to the base build path — absorbed batches
    * re-absorb safely (exactly-once by batch id makes replay idempotent).
    * Every derived operation computes `fp` once and passes it down: the
    * fingerprint walk reads every corpus file's tail, and it must not run
    * while an exclusive head lock blocks other writers. */
  private def liveHeadAt(spark: SparkSession, s: Store, sfDir: String,
                         fp: String): Option[(StoreHead, Seq[Path])] =
    readHead(headFile(spark, s, sfDir)).filter(_.baseFp == fp)
      .filter(_.entries.forall(committed(spark, _)))
      .map(h => (h, h.entries.map(vdir(spark).resolve(_))))

  /** The live head, or else a fresh chain holding only the base entry. */
  private def headOrBase(spark: SparkSession, s: Store, sfDir: String,
                         fp: String): StoreHead =
    liveHeadAt(spark, s, sfDir, fp).map(_._1)
      .getOrElse(StoreHead(fp, Nil, Seq(baseName(s, sfDir, fp))))

  /** Union view over a generation list — one read per generation:
    * partition discovery rejects multiple partitioned roots in a single
    * load, and per-root scans keep partition pruning intact across every
    * generation. */
  private def readView(spark: SparkSession, dirs: Seq[Path]): DataFrame =
    dfCache.getOrElseUpdate(
      s"${spark.sparkContext.applicationId}|${dirs.mkString(";")}",
      dirs.map(d => spark.read.parquet(d.toString)).reduce(_.unionByName(_)))

  /** `s`'s base generation (built at most once per corpus fingerprint),
    * not projected. */
  private def baseAt(spark: SparkSession, sfDir: String, s: Store,
                     fp: String): DataFrame =
    entryTable(spark, baseName(s, sfDir, fp), s.partitionCols)(s.build(spark, sfDir))

  /** Read through the head when one is live (union of base + deltas);
    * otherwise serve/build the base generation and clear a stale head —
    * this is the ONE point where the current corpus fingerprint is in
    * hand, so heads orphaned by a corpus regeneration die here and their
    * deltas become [[gc]]-able. Not projected. */
  private def headAware(spark: SparkSession, sfDir: String, s: Store,
                        fp: String): DataFrame =
    liveHeadAt(spark, s, sfDir, fp) match {
      case Some((_, dirs)) => readView(spark, dirs)
      case None =>
        val df = baseAt(spark, sfDir, s, fp)
        val hf = headFile(spark, s, sfDir)
        if (readHead(hf).exists(_.baseFp != fp)) Files.deleteIfExists(hf)
        df
    }

  private def readAt(spark: SparkSession, sfDir: String, s: Store, fp: String): DataFrame =
    s.view(headAware(spark, sfDir, s, fp))

  /** `s`'s current view — base ∪ every absorbed generation behind a live
    * head — through its read projection. */
  private[graft] def read(spark: SparkSession, sfDir: String, s: Store): DataFrame =
    readAt(spark, sfDir, s, corpusFingerprint(sfDir, s.table))

  /** Atomically (re)write a small sidecar file. */
  private def replaceFile(dest: Path, content: String): Unit = {
    Files.createDirectories(dest.getParent)
    val tmp = dest.getParent.resolve(
      s"${dest.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Entries of `s`'s (kind, input path, config) group that `head` no
    * longer references — a superseded absorb chain (or a base generation
    * the corpus regenerated away) — deleted past the age gate. */
  private def sweepUnreferenced(spark: SparkSession, sfDir: String, s: Store,
                                head: StoreHead): Unit =
    sweepGroup(spark, s.kind, pathFingerprint(sfDir, s.table), s.config,
      head.entries.toSet)

  /** Per-lock-file JVM-local monitors: `FileChannel.lock` throws
    * `OverlappingFileLockException` (it does not block) when another
    * THREAD of the same JVM holds the lock — exactly the
    * two-streaming-queries-one-driver shape `absorbKeepers`' streamId
    * supports — so same-process writers must serialize on a monitor
    * before touching the file lock. */
  private val headMonitors = TrieMap.empty[String, Object]

  /** Serialize head read-modify-write cycles on this store: a JVM-local
    * monitor (same-process threads), then an exclusive lock on a `.lock`
    * sibling of the head file (other processes). Local-FS scope (a
    * production store would use the catalog's commit protocol instead —
    * same caveat as [[publish]]). */
  private def withHeadLock[A](hf: Path)(body: => A): A = {
    Files.createDirectories(hf.getParent)
    val lockPath = hf.getParent.resolve(hf.getFileName.toString + ".lock")
    headMonitors.getOrElseUpdate(lockPath.toString, new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try body finally l.release() }
      finally ch.close()
    }
  }

  /**
   * Absorb a judged batch's kept rows (in `s`'s row schema) into `s`: the
   * continuous-ingestion write path. The corpus base table is built
   * (once, ever) if absent; the batch's NOVEL rows — ids not already in
   * the current view — are written as a small DELTA entry (batch-sized,
   * never a rewrite of the corpus artifact); the head pointer then
   * atomically advances to `entries :+ delta`, so a day-3 batch is judged
   * against corpus ∪ kept(day 1) ∪ kept(day 2). Absorption is
   * exactly-once per `batchId`: re-absorbing an absorbed id is a no-op
   * (idempotent replay after a crashed writer), and the delta entry name
   * chains `baseFp` with the absorbed-id ledger, so a half-published
   * retry resolves to the same entry and the atomic publish dedupes.
   * Returns the absorbed view through `s`'s read projection — exactly
   * what [[read]] returns.
   *
   * 100 TB shape: the store grows by one batch-sized delta per absorb;
   * reads union base + deltas until [[compact]] folds the chain. The
   * novelty anti-join ships only the store's id column — 8 bytes/doc —
   * against the (small) batch side; in production ids are globally unique
   * and it degenerates to a no-match pass.
   */
  private[graft] def absorb(spark: SparkSession, sfDir: String, s: Store,
                            rows: DataFrame, batchId: String): DataFrame =
    absorbAt(spark, sfDir, s, corpusFingerprint(sfDir, s.table), rows, batchId)

  private def absorbAt(spark: SparkSession, sfDir: String, s: Store, fp: String,
                       rows: DataFrame, batchId: String): DataFrame = {
    require(batchId.matches("[A-Za-z0-9_.-]+"),
      s"batchId must be [A-Za-z0-9_.-]+ (it is stored in the head ledger): $batchId")
    // guarantees the base entry exists (built at most once) and clears any
    // head orphaned by a corpus regeneration — OUTSIDE the lock: the base
    // build is the expensive corpus signing, and its publish is idempotent
    headAware(spark, sfDir, s, fp)
    val hf = headFile(spark, s, sfDir)
    withHeadLock(hf) {
      // resolve the head through liveHeadAt, NOT a raw read: a head whose
      // entries were lost is broken — trusting its ledger would make the
      // exactly-once check permanently swallow the very re-absorbs that
      // recover the lost rows. A broken head restarts the chain from the
      // base (batch ids become re-absorbable, which is safe: their rows
      // are gone from the view, so the anti-join re-admits them).
      val head0 = headOrBase(spark, s, sfDir, fp)
      if (!head0.absorbed.contains(batchId)) { // exactly-once
        val absorbed1 = head0.absorbed :+ batchId
        // the novelty view MUST resolve inside the lock, from head0's own
        // entries: a concurrent absorber's just-published delta has to be
        // visible to the anti-join, or an id shared between racing batches
        // is written twice. Persisted because both the isEmpty probe and
        // the delta write consume it — unpersisted before returning.
        val current = readView(spark, head0.entries.map(vdir(spark).resolve(_)))
        val novel = rows.join(current.select("id"), Seq("id"), "left_anti")
          .persist()
        try {
          val head1 = if (novel.isEmpty) {
            // nothing novel: record the batch id in the ledger with NO entry —
            // a partitioned write of an empty frame leaves a directory with no
            // readable footer, which would poison every later head read
            StoreHead(fp, absorbed1, head0.entries)
          } else {
            val delta = derivedName(s, sfDir, s"$fp:${absorbed1.mkString(",")}")
            if (writeEntry(spark, delta, s.partitionCols)(novel))
              absorbsPublished.incrementAndGet()
            StoreHead(fp, absorbed1, head0.entries :+ delta)
          }
          replaceFile(hf, renderHead(head1))
          sweepUnreferenced(spark, sfDir, s, head1)
        } finally novel.unpersist()
      }
    }
    readAt(spark, sfDir, s, fp)
  }

  /**
   * Compact an absorb-able store: rewrite the current view (base ∪ all
   * deltas) as ONE fresh entry and point the head at it, preserving the
   * absorbed-batch ledger — batch ids stay exactly-once across the
   * compaction, and nothing is re-signed/re-assigned (rows are copied,
   * not recomputed). Bounds the read amplification of a long absorb
   * chain: after N days of daily batches a reader unions N+1 entries;
   * compaction resets that to 1. The compacted entry keeps `s`'s
   * partition layout, so probed-cell pruning holds across the fold. The
   * superseded base + deltas age out via [[sweepUnreferenced]]/[[gc]].
   * No-op when the head has no deltas. Returns the view through `s`'s
   * read projection, like [[read]].
   */
  private[graft] def compact(spark: SparkSession, sfDir: String, s: Store): DataFrame = {
    val fp = corpusFingerprint(sfDir, s.table)
    headAware(spark, sfDir, s, fp)
    // resolve through liveHeadAt, NOT a raw head read: a BROKEN head (lost
    // delta) must never be compacted — the degraded view would be
    // installed as the single entry while the ledger still lists the lost
    // batches, permanently swallowing the re-absorbs that recover them
    liveHeadAt(spark, s, sfDir, fp) match {
      case Some((h, dirs)) if h.entries.size > 1 =>
        val name = derivedName(s, sfDir, s"$fp:compact:${h.absorbed.mkString(",")}")
        // the rewrite (the expensive step) runs OUTSIDE the lock, from the
        // snapshot's own entry list — concurrent absorbers are not blocked
        writeEntry(spark, name, s.partitionCols)(readView(spark, dirs))
        val h1 = StoreHead(fp, h.absorbed, Seq(name))
        // install iff the head is UNCHANGED since the snapshot (a CAS): a
        // delta published by a concurrent absorber after our snapshot must
        // not be dropped from the view. On a lost race the compacted entry
        // is simply unreferenced (ages out via the sweeps) and the caller
        // may re-compact against the longer chain.
        val hf = headFile(spark, s, sfDir)
        val installed = withHeadLock(hf) {
          if (readHead(hf).contains(h)) { replaceFile(hf, renderHead(h1)); true }
          else false
        }
        if (installed) sweepUnreferenced(spark, sfDir, s, h1)
      case _ => ()
    }
    readAt(spark, sfDir, s, fp)
  }

  /** Append `entry` to `s`'s head — the live head, or else a fresh chain
    * from the base — unless it is listed already: phase 1 of a split or a
    * retrain, invisible until the centroid head swap exposes its cells. */
  private def appendToHead(spark: SparkSession, sfDir: String, s: Store,
                           fp: String, entry: String): Unit = {
    val hf = headFile(spark, s, sfDir)
    withHeadLock(hf) {
      val h0 = headOrBase(spark, s, sfDir, fp)
      if (!h0.entries.contains(entry))
        replaceFile(hf, renderHead(h0.copy(entries = h0.entries :+ entry)))
    }
  }

  /** Point `s`'s head at the single `entry`, keeping its ledger extended by
    * `mark`. The caller holds `s`'s head lock. */
  private def resetHead(spark: SparkSession, sfDir: String, s: Store, fp: String,
                        entry: String,
                        mark: Seq[String] => Seq[String] = identity): StoreHead = {
    val hf = headFile(spark, s, sfDir)
    val ledger = readHead(hf).filter(_.baseFp == fp).map(_.absorbed).getOrElse(Nil)
    val h = StoreHead(fp, mark(ledger), Seq(entry))
    replaceFile(hf, renderHead(h))
    h
  }

  /** Cells and Lloyd rounds of the stored IVF index. Fixed, not knobs: the
    * PQ codebooks and codes are trained over this one index, so any other
    * value would filter codes by centroids they were not encoded against. */
  private val IvfK = 8
  private val IvfIters = 2

  /** The head-aware stores, one [[Store]] descriptor each. Kind, config,
    * table and partition layout are part of every deployed entry's name —
    * StoreLayoutSpec pins them. */
  private[graft] object Stores {
    private val cell = Seq("centroid_id")

    /** A vector store's base: its batch rows made from the whole corpus. */
    private def ofCorpus(rows: BatchRows): (SparkSession, String) => DataFrame =
      (s, d) => rows(s, d, Tables.embeddings(s, d), "vec_id", "embedding")

    private val hammingRows: BatchRows =
      (_, _, v, i, c) => Similarity.hammingSigRows(v, i, c, dims = 64)
    private val q8Rows: BatchRows = (_, _, v, i, c) => Similarity.q8CodeRows(v, i, c)
    private val residualRows: BatchRows = (s, d, v, i, c) =>
      Similarity.hammingResidualSigRows(v, i, c, ivfIndex(s, d).centroids, dims = 64)

    /** `rows` laid out by IVF cell: the corpus joins the stored assignment,
      * a batch is assigned against the pinned base centroids at absorb
      * time — the generation whose layout the store is. */
    private def cellStore(kind: String, config: String, columns: Seq[String],
                          rows: BatchRows): Store =
      Store(kind, config, "embeddings",
        (s, d) => ofCorpus(rows)(s, d)
          .join(ivfIndex(s, d).assignment.select(col("id"), col("centroid_id")), "id"),
        cell, columns :+ "centroid_id",
        Some((s, d, v, i, c) => rows(s, d, v, i, c)
          .join(Similarity.ivfAssign(v, i, c, ivfIndex(s, d).centroids)
            .select(col("id").cast("long").as("id"), col("centroid_id")), "id")))

    /** Signed as the base is; `spread` only lays out a corpus-scale scan. */
    private def minhashRows(spread: Boolean): BatchRows = (_, _, b, i, t) =>
      Dedup.minhashSignatureTable(b, i, t, shingleN = 3, k = 128, spread = spread)
    private def embSigRows(spread: Boolean): BatchRows = (_, _, b, i, v) =>
      Similarity.lshSigRowsTyped(b, i, v, bands = 128, planesPerBand = 16, dims = 64,
        spread = spread)

    val MinhashSigs: Store = Store("minhash_sigs", "n3_k128", "documents",
      (s, d) => minhashRows(spread = true)(s, d, Tables.documents(s, d), "doc_id", "text"),
      batchRows = Some(minhashRows(spread = false)))

    val EmbSigs: Store = Store("emb_sigs", "d64_r16b128", "embeddings",
      ofCorpus(embSigRows(spread = true)), batchRows = Some(embSigRows(spread = false)))

    val ContentHashes: Store = Store("content_hashes", "md5", "documents", (s, d) =>
      Tables.documents(s, d).select(col("doc_id").cast("long").as("id"),
        Dedup.contentHashSafe(col("text")).as("h")))

    val HammingSigs: Store = Store("hamming_sigs", "d64_b1_k128", "embeddings",
      ofCorpus(hammingRows), batchRows = Some(hammingRows))

    val Q8Codes: Store = Store("q8_codes", "d64_s127", "embeddings",
      ofCorpus(q8Rows), batchRows = Some(q8Rows))

    val HammingSigsIvf: Store = cellStore("hamming_sigs_ivf", "d64_k128_cell",
      Seq("id", "sig", "slo", "shi"), hammingRows)

    /** Assigned AND residual-sketched against the pinned base centroids in
      * one pass — the builder does both. */
    val HammingSigsIvfRes: Store = Store("hamming_sigs_ivfres", "d64_k128_rescell",
      "embeddings", ofCorpus(residualRows), cell,
      Seq("id", "slo", "shi", "centroid_id"), Some(residualRows))

    val Q8CodesIvf: Store = cellStore("q8_codes_ivf", "d64_s127_cell",
      Seq("id", "scale", "q"), q8Rows)

    val IvfCentroids: Store = Store("ivf_centroids", s"k${IvfK}_i$IvfIters",
      "embeddings", (s, d) => Similarity.ivfTrainCentroids(
        Tables.embeddings(s, d), "vec_id", "embedding", IvfK, IvfIters))

    val IvfIndex: Store = Store("ivf_index", s"k${IvfK}_i$IvfIters", "embeddings",
      (s, d) => Similarity.ivfIndexRows(Tables.embeddings(s, d), "vec_id", "embedding",
        baseAt(s, d, IvfCentroids, corpusFingerprint(d, "embeddings"))),
      cell, Seq("id", "centroid_id", "dist", "norm", "v", "scale", "qcode"))

    val PqCodes: Store = Store("pq_codes", "m8_k16_i2_res", "embeddings", (s, d) => {
        val idx = ivfIndex(s, d)
        Similarity.pqEncode(Similarity.ivfResiduals(idx.assignment, idx.centroids),
          "id", "rv", pqCodebooks(s, d), dims = 64, cellCol = Some("centroid_id"))
      }, cell, Seq("id", "centroid_id", "codes"))
  }

  /** Stored content-hash table `(id, h)` over `documents` — the corpus
    * artifact Bloom-gated incremental exact dedup
    * ([[graft.llm.Dedup.dedupIncrementalBloomFromHashes]]) judges new
    * batches against: the corpus text is hashed ONCE; every future batch
    * builds its membership sketch from this 16-byte/doc view and
    * exact-confirms candidates against the SAME view, so day-2 judgments
    * never touch corpus text. Absorb-able: after an [[absorb]] into
    * [[Stores.ContentHashes]] the view is corpus ∪ absorbed keeps. */
  def contentHashes(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.ContentHashes)

  /** Stored BPE tokenizer artifact: the rank-ordered merge table
    * ([[graft.llm.TextAnalysis.bpeTrain]], 256 merges in 32-pair
    * token-disjoint batches) over `documents` — trained once per
    * (corpus, config); every tokenization run replays the stored list
    * ([[graft.llm.TextAnalysis.bpeDocTokensFromMerges]]) instead of
    * re-paying the training scans. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "bpe_merges", "m256_b32", sfDir, "documents") {
      // the delta-maintained trainer: identical merge list row-for-row
      // (LlmSpec equivalence property), one corpus scan instead of one
      // pair-count scan per round — same artifact, cheaper build, so the
      // config key stays m256_b32
      graft.llm.TextAnalysis.bpeTrainDelta(Tables.documents(spark, sfDir), "text",
        merges = 256, batch = 32)
    }

  /** Stored BYTE-level BPE tokenizer artifact: the rank-ordered merge
    * table trained over the byte-mapped GPT-2 piece stream of
    * `documents` ∪ the planted multi-byte rows (the
    * `text_bpe_train_bytes` corpus, [[LlmQueries.byteCorpusKeyed]]) —
    * trained once per (corpus, config); encode runs
    * ([[graft.llm.TextAnalysis.bpeDocTokensFromMerges]] over the
    * byte-mapped piece stream) replay the stored list instead of
    * re-paying the training scans. */
  def bpeByteMerges(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "bpe_bytes", "m256_b32", sfDir, "documents") {
      graft.llm.TextAnalysis.bpeTrain(
        graft.llm.TextAnalysis.byteLevelCorpus(
          LlmQueries.byteCorpusKeyed(spark, sfDir), "text"),
        "text", merges = 256, batch = 32)
    }

  /** Media feature near-dup pair table at the consumed threshold
    * (cosine ≥ 0.9999 over the 6-dp-rounded decode-stub features) —
    * `mm_near_dup` reads it; built once per corpus like the text
    * embedding pair table ([[embeddingPairs]]). */
  def mmPairs(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "mm_pairs", "stub8_t9999", sfDir, "documents") {
      val media = graft.llm.Multimodal.asMedia(
        Tables.documents(spark, sfDir), "doc_id", "text")
      // decode failures (ok=false: null payloads) and empty feature
      // vectors are excluded — they have no feature-space position;
      // all-zero features are additionally dropped by embeddingNearDup's
      // zero-norm guard (undefined cosine ⇒ never a pair)
      val feats = graft.llm.Multimodal.decodeFeatures(media)
        .where(col("ok") && size(col("feature")) > 0)
        .select(col("media_id"),
          transform(col("feature"), x => round(x, 6)).as("feature"))
      graft.llm.Dedup.embeddingNearDup(feats, "media_id", "feature",
        threshold = 0.9999)
    }

  /** Stored unigram model `(word, cnt)` over `documents`
    * ([[graft.llm.TextAnalysis.lmModel]]) — trained once per corpus;
    * scoring runs ([[graft.llm.TextAnalysis.lmScoreFromModel]]) broadcast
    * the stored vocabulary instead of re-aggregating the corpus. */
  def lmUnigrams(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "lm_model", "unigram_ws", sfDir, "documents") {
      graft.llm.TextAnalysis.lmModel(Tables.documents(spark, sfDir), "text")
    }

  /** Stored trained quality-classifier weights `(bucket, w)` (intercept at
    * bucket = −1) — [[graft.llm.TextAnalysis.qualityClfTrain]] on the
    * gopher-∪-planted-junk bootstrap labels, TRAINED ONCE per corpus under
    * the exact schedule the classifier oracles replay
    * ([[LlmQueries.ClfIters]] rounds, lr [[LlmQueries.ClfLr]]); scoring
    * runs broadcast the stored weight table instead of re-running GD —
    * the `lm_model`/`bpe_model` production pattern for the learned gate. */
  def clfWeights(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "clf_model",
        s"logreg_b${graft.llm.TextAnalysis.QualityClfBuckets}_i${LlmQueries.ClfIters}",
        sfDir, "documents") {
      graft.llm.TextAnalysis.qualityClfTrain(
        LlmQueries.clfLabeled(spark, sfDir), "id", "text", "y",
        iters = LlmQueries.ClfIters, lr = LlmQueries.ClfLr)
    }

  /** Stored Kneser–Ney type table `(pw, w, lp)`
    * ([[graft.llm.TextAnalysis.knTypeTable]], D=0.75) — the smoothed
    * bigram model trained once per corpus snapshot; scoring runs replay
    * the stored table instead of re-deriving the four count tables. */
  def knTypes(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn_types", "d075", sfDir, "documents") {
      graft.llm.TextAnalysis.knTypeTable(Tables.documents(spark, sfDir),
        "doc_id", "text")
    }

  /** Stored unified 5-gram type table `(ord, h4, h3, h2, h1, w, cnt)`
    * ([[graft.llm.TextAnalysis.kn5TypeTable]] over the even-doc_id train
    * split) — ONE artifact holding every n-gram order; 5-gram KN scoring
    * derives all smoothing count tables from it, so held-out scoring
    * never re-reads the training corpus. Partitioned by `ord` so each
    * per-order consumer scans only its slice. */
  def kn5Types(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn5_types", "even_split", sfDir, "documents",
      partitionCols = Seq("ord")) {
      graft.llm.TextAnalysis.kn5TypeTable(
        Tables.documents(spark, sfDir).where(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }

  /** COUNT-THRESHOLD-PRUNED stored 5-gram type table (KenLM's
    * `--prune 0 0 1 1 1` shape, [[graft.llm.TextAnalysis.kn5Prune]]):
    * order-3/4/5 singleton types dropped at store time, orders 1–2 kept
    * whole. Consumers re-derive every smoothing mass from THIS table, so
    * the pruned model stays exactly normalized (LlmSpec property). This
    * is the artifact that survives 100 TB — the unpruned order-4/5
    * slices are near corpus-sized while singletons carry ~no smoothing
    * mass (row reduction measured in BASELINE.md). Derived from the
    * stored full table: pruning costs one bounded artifact scan, never a
    * corpus re-count. */
  def kn5TypesPruned(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn5_types_pruned", "even_split_p00111", sfDir,
      "documents", partitionCols = Seq("ord")) {
      graft.llm.TextAnalysis.kn5Prune(kn5Types(spark, sfDir))
    }

  /** Stored QUANTIZED ARPA-style 5-gram model over the pruned types
    * ([[graft.llm.TextAnalysis.kn5QuantModel]]): per-gram discounted
    * probabilities and per-context backoff masses in 6-dp micro-unit
    * longs, `(kind, ord)`-partitioned so each scoring join leg reads only
    * its slice. Scoring against it pays ZERO model-side aggregation. */
  def kn5Quant(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn5_quant", "even_split_p00111_q6c1", sfDir,
      "documents", partitionCols = Seq("kind", "ord")) {
      graft.llm.TextAnalysis.kn5QuantModel(kn5TypesPruned(spark, sfDir))
    }

  /** Stored quantized MODIFIED-KN model (Chen & Goodman count-of-count
    * discounts carried as micro-unit longs inside the same `(kind, ord)`
    * artifact schema — the model KenLM actually ships after `--prune` +
    * quantize). Scoring reads it through the UNCHANGED
    * [[graft.llm.TextAnalysis.lmScoreKn5Quant]] joins: the modified-ness
    * lives entirely in the stored qa6/qb6 values. */
  def kn5QuantMod(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn5_quant_mod", "even_split_p00111_cg_q6c1", sfDir,
      "documents", partitionCols = Seq("kind", "ord")) {
      graft.llm.TextAnalysis.kn5QuantModel(kn5TypesPruned(spark, sfDir),
        modified = true)
    }

  /** Stored per-doc scores against the PRUNED model — the
    * [[kn5Scores]] staging with the production-pruned artifact; the
    * perplexity gate consumes these unchanged. */
  def kn5ScoresPruned(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn5_scores_pruned", "even_split_p00111_d075",
      sfDir, "documents") {
      graft.llm.TextAnalysis.lmScoreKn5FromModel(
        Tables.documents(spark, sfDir), "doc_id", "text",
        kn5TypesPruned(spark, sfDir))
    }

  /** Stored per-doc 5-gram KN scores `(doc_id, n_words, n_oov, nll_sum)`
    * over the whole corpus against [[kn5Types]] — the CCNet pipeline
    * materializes LM scores BEFORE perplexity bucketing because the
    * scoring plan (a dozen type-table joins over the token stream) is the
    * expensive stage and every downstream gate re-reads it; the threshold
    * bucketing's two passes then cost two parquet scans, not two scoring
    * replays. */
  def kn5Scores(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "kn5_scores", "even_split_d075", sfDir, "documents") {
      graft.llm.TextAnalysis.lmScoreKn5FromModel(
        Tables.documents(spark, sfDir), "doc_id", "text",
        kn5Types(spark, sfDir))
    }

  /** Stored perceptual sketch table `(id, sig)` over `documents`-as-media
    * ([[graft.llm.Multimodal.phashSketches]]) — the corpus artifact
    * incremental media near-dup judges new batches against: the corpus is
    * decoded + sketched ONCE; every future batch broadcasts its band keys
    * into this table and never re-reads media bytes (the
    * [[minhashSignatures]] pattern at the media pillar). */
  def phashSigs(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "phash_sigs", "b60_spec64k", sfDir, "documents") {
      graft.llm.Multimodal.phashSketches(
        graft.llm.Multimodal.asMedia(Tables.documents(spark, sfDir),
          "doc_id", "text"))
    }

  /** Stored binary-sketch signature table `(id, sig, slo, shi)` over
    * `embeddings` ([[graft.llm.Similarity.hammingSigRows]]: the 64-bit
    * axis-sign word AND the 128-bit densified sign sketch, one typed
    * pass) — the Hamming ANN ring's stage-1 artifact: the corpus is
    * sketched ONCE; every `knnJoinHammingFromSigs` /
    * `knnJoinHammingAdcFromSigs` search scans this table's 8–16 bytes of
    * code per row (column-pruned) instead of re-reading and re-signing
    * the 512-byte raw vectors. Codes are exact integer sign decisions,
    * so a search through the store is bit-replayable with the live
    * re-sketch path. Absorb-able ([[Stores.HammingSigs]]): after a
    * streaming ADC micro-batch commits its keepers, the view is
    * corpus ∪ absorbed keeps. */
  def hammingSigs(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.HammingSigs)

  /** Stored INT8 scalar-quantization code table `(id, scale, q)` over
    * `embeddings` ([[graft.llm.Similarity.q8CodeRows]]) — the rerank
    * side of the all-stored search
    * ([[graft.llm.Similarity.knnJoinHammingSqFromSigs]]): 80 B/row vs
    * the 520 B raw vector, and the search's column pruning drops
    * `scale` too (it cancels in the cosine). Exclusion rule identical
    * to [[hammingSigs]], so the two stored artifacts cover the same
    * ids and the enforced `FromSigs` coverage contract holds between
    * them by construction; head-aware + absorb-able on the same
    * batch-id ledger. */
  def q8Codes(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.Q8Codes)

  /** Stored winnowing fingerprint table `(id, fp)` (distinct,
    * [[graft.llm.Dedup.winnowFingerprints]] k=4/w=4) — the corpus-side
    * artifact incremental near-dup judgment joins new batches against,
    * so corpus text is fingerprinted once ever. */
  def winnowFps(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "winnow_fps", "k4_w4_h44", sfDir, "documents") {
      graft.llm.Dedup.winnowFingerprints(Tables.documents(spark, sfDir),
          "doc_id", "text", k = 4, w = 4)
        .select(col("doc_id").as("id"), col("fp")).distinct()
    }

  /** Stored unigram-LM tokenizer pieces `(piece, cnt, lp)`
    * ([[graft.llm.TextAnalysis.unigramTrain]], SentencePiece hard-EM) —
    * trained once per (corpus, config); encode runs broadcast the stored
    * table instead of re-paying the EM rounds over the word table. */
  def unigramPieces(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "unigram_pieces", "p4_s40_i2", sfDir, "documents") {
      graft.llm.TextAnalysis.unigramTrain(Tables.documents(spark, sfDir),
        "text", maxPieceLen = 4, seedSize = 40, iters = 2)
    }

  /** Stored SOFT-EM unigram tokenizer pieces `(piece, em6, lp)`
    * ([[graft.llm.TextAnalysis.unigramTrainSoft]] — forward–backward
    * expected masses, pruning schedule, single-char coverage floor) —
    * the production twin's artifact: encode runs broadcast the stored
    * `(piece, lp)` rows instead of re-paying the EM rounds. */
  def unigramPiecesEm(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "unigram_pieces_em", "p4_s40_i2_t8_s05", sfDir,
      "documents") {
      graft.llm.TextAnalysis.unigramTrainSoft(Tables.documents(spark, sfDir),
        "text", maxPieceLen = 4, seedSize = 40, iters = 2,
        targetMulti = 8, shrink = 0.5)
    }

  /** Stored LOSS-PRUNED soft-EM unigram pieces `(piece, em6, loss6, lp)`
    * ([[graft.llm.TextAnalysis.unigramTrainSoft]] `lossPrune = true` —
    * the SentencePiece likelihood-loss criterion): trained once per
    * (corpus, config); encode runs broadcast the stored `(piece, lp)`
    * rows. */
  def unigramPiecesEmLoss(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "unigram_pieces_em_loss", "p4_s40_i2_t8_s05", sfDir,
      "documents") {
      graft.llm.TextAnalysis.unigramTrainSoft(Tables.documents(spark, sfDir),
        "text", maxPieceLen = 4, seedSize = 40, iters = 2,
        targetMulti = 8, shrink = 0.5, lossPrune = true)
    }

  /** Stored DSIR log-likelihood-ratio table `(bucket, log_ratio)` against
    * the English slice as the target distribution
    * ([[graft.llm.TextAnalysis.dsirRatios]]) — estimated once per corpus
    * snapshot (≤ 1,024 rows); scoring runs broadcast the stored table
    * instead of re-aggregating the corpus distributions. */
  def dsirRatios(spark: SparkSession, sfDir: String): DataFrame =
    // config key bumped (_full): the table became total over the bucket
    // domain (floor ratios for unobserved buckets) — a cached observed-only
    // table must not satisfy this contract
    parquetBacked(spark, "dsir_ratios",
        s"en_b${graft.llm.TextAnalysis.DsirBuckets}_full", sfDir, "documents") {
      graft.llm.TextAnalysis.dsirRatios(Tables.documents(spark, sfDir),
        "doc_id", "text", col("lang") === "en")
    }

  /** CELL-PARTITIONED binary-sketch signature table
    * `(id, sig, slo, shi, centroid_id)` over `embeddings` — the
    * [[hammingSigs]] codes laid out by the stored IVF index's cell
    * assignment, so the hybrid search
    * ([[graft.llm.Similarity.knnJoinHammingIvf]]) prunes PARTITIONS by
    * probed cell AND reads only the 16-byte sketch columns per surviving
    * row: the two pruning axes composed in one store. Rebuilt when the
    * index retrains (the cell layout IS the index's). Absorb-able
    * ([[Stores.HammingSigsIvf]]): each keeper is assigned to its IVF cell
    * AT ABSORB TIME against the PINNED base centroids, so after a
    * streaming ADC micro-batch commits its keepers the hybrid search sees
    * the SAME corpus the flat `FromSigs` searches do. Keepers with no
    * angle (zero-norm) emit no sig row — exactly the base build's
    * exclusion. Absorb deltas carry their own `centroid_id=` layout, so
    * probed-cell partition pruning holds across every generation of the
    * union view. Centroid drift is the documented IVF trade: absorbed
    * keepers live in cells trained on the original corpus until a retrain
    * rebuilds the base layout. */
  def hammingSigsIvf(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.HammingSigsIvf)

  /** CELL-PARTITIONED RESIDUAL-sketch signature table
    * `(id, slo, shi, centroid_id)` over `embeddings`
    * ([[graft.llm.Similarity.hammingResidualSigRows]] — the 128-plane
    * sign sketch of `v − centroid(cell)` instead of the raw vector, the
    * FAISS binary-IVF refinement): same partition-pruned 16-byte stage 1
    * as [[hammingSigsIvf]], with the sketch entropy concentrated on the
    * within-cell variance the coarse quantizer leaves. Absorb-able
    * ([[Stores.HammingSigsIvfRes]]) like its raw twin, so all three
    * stored search paths agree on corpus membership after a streaming
    * micro-batch. */
  def hammingSigsIvfRes(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.HammingSigsIvfRes)

  /** CELL-PARTITIONED int8 code table `(id, scale, q, centroid_id)` —
    * the [[q8Codes]] rows laid out by the stored IVF index's cell
    * assignment, so the fully-composed search
    * ([[graft.llm.Similarity.knnJoinHammingIvfResSq]]) prunes the
    * RERANK scan to probed cells exactly as stage 1 prunes the sketch
    * scan: both sides of the search carry probed-cell
    * `PartitionFilters`, and neither reads outside `nprobe/C` of its
    * store. Same exclusion rule and assignment as
    * [[hammingSigsIvfRes]], so the coverage contract holds
    * cell-by-cell. Rebuilt when the index retrains; absorb-able
    * ([[Stores.Q8CodesIvf]]), so the composed search's PRUNED rerank
    * still covers every absorbed keeper's cell. */
  def q8CodesIvf(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.Q8CodesIvf)

  /** Verified MinHash(128)+LSH(32×4) near-dup pair table at J ≥ 0.8 over
    * `documents` — written once, read by `dedup_minhash`, `dedup_clusters`
    * and `pipeline_training_set`. */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "minhash_pairs", "n3_b32_r4_t080", sfDir, "documents") {
      // materialize=true: eagerly cache the (tiny) verified pair set and
      // free the signature/shingle intermediates before the parquet write
      Dedup.minhashLsh(Tables.documents(spark, sfDir), "doc_id", "text",
        shingleN = 3, bands = 32, rowsPerBand = 4, threshold = 0.8,
        materialize = true)
    }

  /** Stored MinHash(128) signature table `(id, n_sh, sig)` over
    * `documents` — the corpus artifact incremental near-dup
    * ([[graft.llm.Dedup.dedupIncrementalNear]]) judges new batches
    * against: the corpus is signed ONCE; every future batch band-joins
    * its (broadcast) band keys into this table and touches corpus text
    * only to exact-verify the tiny candidate set. Absorb-able: after an
    * [[absorb]] into [[Stores.MinhashSigs]] the view is corpus ∪ absorbed
    * batches (base + delta union behind the head pointer). */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.MinhashSigs)

  /** Stored sign-LSH bucket table `(id, sig)` over `embeddings` at the
    * DEEP banding production config (16 planes × 128 bands — the 252×
    * measured-prune operating point from BASELINE.md's crossover; the
    * 2,048-plane signing goes through the typed JIT kernel) — the corpus
    * artifact incremental embedding near-dup
    * ([[graft.llm.Dedup.dedupIncrementalEmbedding]]) judges new vector
    * batches against. Hyperplanes derive from a deterministic integer
    * formula, so a later batch signs itself consistently with this
    * table without any persisted RNG state. */
  def embeddingSignatures(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.EmbSigs)

  /** Exact word-3-gram Jaccard pair table at J ≥ 0.6 (inverted-index /
    * PPJoin adaptive join) — `dedup_ngram_jaccard` reads it. */
  def ngramPairs(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "ngram_pairs", "n3_t060", sfDir, "documents") {
      Dedup.ngramJaccard(Tables.documents(spark, sfDir), "doc_id", "text",
        shingleN = 3, threshold = 0.6, materialize = true)
    }

  /** SimHash(60-bit) pair table at hamming ≤ 3 (pigeonhole banding,
    * exact) — `dedup_simhash` reads it. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "simhash_pairs", "h3_b60", sfDir, "documents") {
      Dedup.simhashPairs(Tables.documents(spark, sfDir), "doc_id", "text",
        maxHamming = 3, materialize = true)
    }

  /** Banded-LSH embedding near-dup pair table at the CONSUMED threshold
    * (cosine ≥ 0.45, banding recall 1 there — see
    * [[Dedup.embeddingNearDupLsh]]) — `dedup_embedding` reads it as-is.
    * Storing at the consumed threshold (not a lower build threshold) keeps
    * the stored table small: at scale the ≥0.3 pair set is enormously
    * larger and nothing reads it as rows — its summary is
    * [[embeddingPairStats]], a streaming aggregate that never materializes
    * the pairs at all. */
  def embeddingPairs(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "emb_pairs", "d64_t045_r3b64", sfDir, "embeddings") {
      Dedup.embeddingNearDupLsh(Tables.embeddings(spark, sfDir),
        "vec_id", "embedding", dims = 64, threshold = 0.45)
    }

  /** The two stored tables of an IVF index: `assignment` is
    * `(id, centroid_id, dist, norm, v)` PARTITIONED BY `centroid_id`
    * (searches prune to the probed cells' files); `centroids` is the
    * trained `(centroid_id, vec)` sidecar, unrounded. */
  final case class IvfIndex(assignment: DataFrame, centroids: DataFrame)

  /**
   * Stored IVF index over `embeddings`: k-means centroids trained ONCE
   * ([[graft.llm.Similarity.ivfTrainCentroids]], the expensive Lloyd
   * iterations), then every vector written into its cell —
   * `partitionBy(centroid_id)`, so the directory layout IS the inverted
   * file and a probed-cell search scans only `nprobe/k` of the corpus via
   * partition pruning. Keyed like every other store entry (corpus
   * fingerprint + the fixed `k8_i2` config): a regenerated corpus builds a
   * fresh index instead of serving a stale one. The pinned BASE
   * generation of [[Stores.IvfIndex]] / [[Stores.IvfCentroids]].
   */
  def ivfIndex(spark: SparkSession, sfDir: String): IvfIndex = {
    val fp = corpusFingerprint(sfDir, Stores.IvfIndex.table)
    val cents = baseAt(spark, sfDir, Stores.IvfCentroids, fp)
    IvfIndex(Stores.IvfIndex.view(baseAt(spark, sfDir, Stores.IvfIndex, fp)), cents)
  }

  /** Restrict an index/code view to the cells the given centroid table
    * lists. Cells retired by [[splitIvfCells]] keep their rows in old
    * generations (never rewritten), but no live centroid references them:
    * this static `IN` filter — the centroid table is a ≤k-row driver
    * pull, like every probe — hides them uniformly from ALL consumers,
    * and composes with the searches' own probed-cell filters into plain
    * partition pruning (no join in the plan). */
  private def filterLiveCells(view: DataFrame, cents: DataFrame): DataFrame = {
    val live = cents.select(col("centroid_id").cast("long")).collect()
      .map(_.getLong(0)).toSeq
    view.where(col("centroid_id").isin(live: _*))
  }

  /** The CURRENT centroid sidecar: the trained base until
    * [[splitIvfCells]] installs a revision (parent cell replaced by its
    * 2-means children) behind the `ivf_centroids` head. [[ivfIndex]] and
    * the PQ base artifacts deliberately keep reading the pinned trained
    * table. */
  def ivfCentroidsCurrent(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, Stores.IvfCentroids)

  /**
   * Incremental IVF maintenance: assign a NEW vector batch against the
   * STORED centroids — no retrain, no corpus re-read — and publish the
   * assigned rows as an appended, cell-partitioned index generation
   * (the same head/delta machinery as the signature stores; exactly-once
   * per `batchId`). The delta directory carries its own
   * `centroid_id=<cell>` layout, so probed-cell searches over the
   * appended index still prune at the file level across ALL generations.
   *
   * [[ivfIndex]] deliberately keeps serving the pinned BASE generation —
   * a reproducibility contract for consumers that must not see the index
   * move under them (`sim_ivf_search` reads it); [[ivfIndexCurrent]] and
   * this method follow the head. Centroid drift is the documented limit:
   * appended batches live in cells trained on the original corpus, the
   * standard IVF trade until a periodic retrain rebuilds the base.
   */
  def appendIvfIndex(spark: SparkSession, sfDir: String, newVectors: DataFrame,
                     idCol: String, vecCol: String, batchId: String): IvfIndex = {
    val fp = corpusFingerprint(sfDir, Stores.IvfIndex.table)
    // ensure the trained base exists OUTSIDE the centroid lock (the train
    // is the expensive step; its publish is idempotent)
    baseAt(spark, sfDir, Stores.IvfCentroids, fp)
    // serialize on the CENTROID head: a split committing between this
    // batch's assignment (against pre-split centroids) and its delta
    // publish would retire the very cells the batch just landed in,
    // hiding its rows from the current view. Lock order centroid → index
    // (absorb takes the index head lock inside) matches
    // [[splitIvfCells]], so the two writers cannot deadlock.
    withHeadLock(headFile(spark, Stores.IvfCentroids, sfDir)) {
      val cents = readAt(spark, sfDir, Stores.IvfCentroids, fp)
      val view = absorbAt(spark, sfDir, Stores.IvfIndex, fp,
        Similarity.ivfIndexRows(newVectors, idCol, vecCol, cents), batchId)
      IvfIndex(filterLiveCells(view, cents), cents)
    }
  }

  /** The head view of the stored IVF index — base ∪ appended batches ∪
    * split reassignments, restricted to the CURRENT centroid set (equal
    * to [[ivfIndex]] until the first [[appendIvfIndex]] or
    * [[splitIvfCells]]). */
  def ivfIndexCurrent(spark: SparkSession, sfDir: String): IvfIndex =
    ivfIndexAt(spark, sfDir, corpusFingerprint(sfDir, Stores.IvfIndex.table))

  private def ivfIndexAt(spark: SparkSession, sfDir: String, fp: String): IvfIndex = {
    val cents = readAt(spark, sfDir, Stores.IvfCentroids, fp)
    IvfIndex(filterLiveCells(readAt(spark, sfDir, Stores.IvfIndex, fp), cents), cents)
  }

  /** Trained PQ codebooks (8 subspaces × 16 codes × 8 dims, 2 Lloyd
    * rounds) over the IVF RESIDUALS `v − centroid(cell)` of the stored
    * assignment — the classic IVF-PQ architecture: the coarse centroid
    * explains the cell mean, so the codes spend their 8 bits on the
    * variance that actually distinguishes neighbors (measurably better
    * recall and reconstruction at identical bytes than raw-vector codes;
    * pinned in LlmSpec). Wide unrounded form `(subspace, code_id, cv)`,
    * the table every PQ assignment is computed against. Tiny by
    * construction; stored so search sessions never re-train. The config
    * key carries `res` — a store written by the raw-vector trainer can
    * never be served to a residual reader. */
  def pqCodebooks(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "pq_codebooks", "m8_k16_i2_res", sfDir, "embeddings") {
      val idx = ivfIndex(spark, sfDir)
      graft.llm.Similarity.pqTrainCodebooks(
        graft.llm.Similarity.ivfResiduals(idx.assignment, idx.centroids),
        "id", "rv", m = 8, ksub = 16, iters = 2, dims = 64)
    }

  /** The stored PQ-coded index: every vector's m RESIDUAL code ids
    * co-located with its IVF cell — `partitionBy(centroid_id)`, the
    * IVF-PQ layout: an ADC search partition-prunes to the probed cells
    * and reads ONLY `(id, codes)`, m small ints per candidate instead of
    * the 8-byte-per-component doubles (~64× less vector data than `v`,
    * ~8× less than the int8 `qcode`s). Built from the stored IVF
    * assignment's residuals in one shuffle-free encode scan. */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = corpusFingerprint(sfDir, Stores.PqCodes.table)
    Stores.PqCodes.view(baseAt(spark, sfDir, Stores.PqCodes, fp))
  }

  /** OPQ-lite rotation seed: fully determines the sign-flip diagonal of
    * the `R = H·D/√d` pre-rotation ([[graft.llm.Similarity.opqSigns]]).
    * Rides in the artifact config key, so codebooks/codes written under
    * one rotation can never be served to a reader expecting another —
    * the "seed stored beside the codebooks" contract. */
  val OpqSeed = 17L

  private def opqSigns64: Array[Double] = graft.llm.Similarity.opqSigns(64, OpqSeed)

  /** Trained PQ codebooks over the ROTATED residuals `R·(v − centroid)`
    * (OPQ-lite: deterministic sign-flip + fast Walsh–Hadamard rotation
    * before residual encoding). Identical geometry and byte budget to
    * [[pqCodebooks]] — the rotation decorrelates the subspace split, the
    * recall/reconstruction gain at equal bytes is pinned in LlmSpec. */
  def opqCodebooks(spark: SparkSession, sfDir: String): DataFrame =
    parquetBacked(spark, "pq_codebooks", s"m8_k16_i2_opq$OpqSeed", sfDir, "embeddings") {
      val idx = ivfIndex(spark, sfDir)
      graft.llm.Similarity.pqTrainCodebooks(
        graft.llm.Similarity.opqRotateResiduals(
          graft.llm.Similarity.ivfResiduals(idx.assignment, idx.centroids),
          opqSigns64),
        "id", "rv", m = 8, ksub = 16, iters = 2, dims = 64)
    }

  /** The stored OPQ-rotated PQ code table — [[pqCodes]]' layout
    * (cell-partitioned, `(id, codes)`), codes quantizing the ROTATED
    * residuals against [[opqCodebooks]]. Same bytes per vector; searches
    * pass the rotation to [[graft.llm.Similarity.pqSearchAdc]]. */
  def opqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = opqCodebooks(spark, sfDir)
    val view = parquetBacked(spark, "pq_codes", s"m8_k16_i2_opq$OpqSeed", sfDir,
        "embeddings", partitionCols = Seq("centroid_id")) {
      val idx = ivfIndex(spark, sfDir)
      graft.llm.Similarity.pqEncode(
        graft.llm.Similarity.opqRotateResiduals(
          graft.llm.Similarity.ivfResiduals(idx.assignment, idx.centroids),
          opqSigns64),
        "id", "rv", cb, dims = 64, cellCol = Some("centroid_id"))
    }
    view.select(col("id"), col("centroid_id").cast("long").as("centroid_id"),
      col("codes"))
  }

  /** The head view of the stored PQ code table — base ∪ split
    * reassignments, restricted to the current centroid set. Equal to
    * [[pqCodes]] until [[splitIvfCells]] remaps a cell; pair it with
    * [[ivfCentroidsCurrent]] (and the unchanged [[pqCodebooks]] — split
    * children re-encode against the SAME codebooks) for ADC searches over
    * the maintained index. */
  def pqCodesCurrent(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = corpusFingerprint(sfDir, Stores.PqCodes.table)
    filterLiveCells(readAt(spark, sfDir, Stores.PqCodes, fp),
      readAt(spark, sfDir, Stores.IvfCentroids, fp))
  }

  /** Is a committed artifact (base entry or live head) of `s` available
    * WITHOUT triggering a build? The dispatch probe of [[knnJoinAuto]]. */
  private def artifactAvailable(spark: SparkSession, sfDir: String, s: Store,
                                fp: String): Boolean =
    committed(spark, baseName(s, sfDir, fp)) || liveHeadAt(spark, s, sfDir, fp).isDefined

  /** [[knnJoinAuto]]'s outcome: which join ran (pinned by spec per
    * regime) and its result. */
  final case class KnnJoinChoice(strategy: String, result: DataFrame)

  /**
   * Regime dispatch over the kNN join ladder — encodes the measured
   * operating rule (BASELINE.md) so a caller cannot land on the wrong
   * variant by accident:
   *
   *  - no stored index and Q ≤ `heapBound` → [[graft.llm.Similarity.knnJoin]]
   *    (broadcast-heap; exact, one corpus scan, no index build);
   *  - a stored index → IVF-probed ([[graft.llm.Similarity.knnJoinIvf]]):
   *    per-query cost O(probed cells), scan = probed-cell union;
   *  - Q past the probe-broadcast bound (`ivfBound`) → fully distributed
   *    ([[graft.llm.Similarity.knnJoinDistributed]], no driver bound);
   *  - PQ codes ([[graft.llm.Similarity.knnJoinPq]]) ONLY when the stored
   *    code table exists, Q is past `pqMinQ` (below it the LUT/serde
   *    amortization loses to the codegen'd full-dot join — measured 2.4×
   *    slower at Q=256) and `allowApprox` permits code-ranked results;
   *  - no stored index and Q past `heapBound` → the index is built once
   *    (the amortized scale path), then probed.
   *
   * Probed variants follow index maintenance ([[ivfIndexCurrent]] /
   * [[pqCodesCurrent]]). The query frame carries `(qIdCol, vecCol)`;
   * the corpus side is the `embeddings` table / its stored artifacts.
   *
   * `baseView = true` pins dispatch to the BASE index generation instead
   * of the head-aware live view — the registry query's mode: the DuckDB
   * oracle replays train→assign from the corpus alone and cannot see
   * maintenance history, so serving absorbed generations is correct
   * production behavior but a DATA-DEPENDENT divergence from the replay
   * (surfaced at sf0.1: an absorbed batch vector cracked a query's
   * top-5). Production callers keep the live view.
   */
  def knnJoinAuto(spark: SparkSession, sfDir: String, queries: DataFrame,
                  qIdCol: String, vecCol: String, k: Int, nprobe: Int,
                  excludeSelf: Boolean = true, allowApprox: Boolean = true,
                  heapBound: Int = 4096, ivfBound: Int = 65536,
                  pqMinQ: Int = 4096,
                  baseView: Boolean = false): KnnJoinChoice = {
    val qCount = queries.count()
    val fp = corpusFingerprint(sfDir, Stores.IvfIndex.table)
    val hasIvf = artifactAvailable(spark, sfDir, Stores.IvfIndex, fp)
    val hasPq = artifactAvailable(spark, sfDir, Stores.PqCodes, fp)
    if (!hasIvf && qCount <= heapBound) {
      require(qIdCol != "embedding", "knnJoinAuto: query id column shadows the corpus vector column")
      val q = queries.select(col(qIdCol), col(vecCol).as("embedding"))
      KnnJoinChoice("broadcast-heap",
        Similarity.knnJoin(Tables.embeddings(spark, sfDir), q,
          "vec_id", "embedding", qIdCol, k, excludeSelf,
          maxQueries = heapBound))
    } else {
      // stored index present — or Q is past the heap bound and the build
      // is the amortized cost of entering the indexed regime
      val idx = if (baseView) ivfIndex(spark, sfDir) else ivfIndexCurrent(spark, sfDir)
      val built = if (hasIvf) "" else " (index built)"
      if (qCount > ivfBound)
        KnnJoinChoice("distributed" + built,
          Similarity.knnJoinDistributed(idx.assignment, idx.centroids,
            queries, qIdCol, vecCol, k, nprobe, excludeSelf))
      else if (allowApprox && hasPq && qCount > pqMinQ)
        KnnJoinChoice("pq-adc" + built,
          Similarity.knnJoinPq(pqCodesCurrent(spark, sfDir),
            pqCodebooks(spark, sfDir), idx.centroids,
            queries, qIdCol, vecCol, k, nprobe, excludeSelf,
            residual = true))
      else
        KnnJoinChoice("ivf-probed" + built,
          Similarity.knnJoinIvf(idx.assignment, idx.centroids,
            queries, qIdCol, vecCol, k, nprobe, excludeSelf,
            maxQueries = ivfBound))
    }
  }

  /**
   * Periodic IVF retrain — the third maintenance operator beside
   * [[appendIvfIndex]] (ingest) and [[splitIvfCells]] (incremental
   * re-balance): rebuild centroids AND assignment from the CURRENT live
   * view (corpus ∪ absorbed batches ∪ split children), folding every
   * appended generation, split delta and retired-cell dead row into ONE
   * fresh generation trained on today's actual distribution. The standard
   * remedy for centroid drift once appends have outgrown the original
   * training set.
   *
   * Crash-atomic by the same single-commit-point construction as the
   * split: the retrained cells take FRESH centroid ids (past the current
   * max, so they overlap nothing), the new index entry — and, when a PQ
   * code table exists, the re-encoded codes against the UNCHANGED
   * codebooks — is APPENDED to its head first (invisible: no live
   * centroid references the fresh cells), then one atomic centroid-head
   * swap retires every old cell and exposes the retrained generation
   * everywhere at once. Only after the commit are the heads collapsed to
   * the single new entry (a crash before that leaves extra hidden
   * entries for the sweeps). The absorbed-batch ledger is preserved
   * through both steps — a replayed batch id is still a no-op after the
   * retrain, and the id anti-join keeps protecting against duplicates.
   *
   * Training seeds are the k smallest LIVE ids (the base trainer's
   * deterministic `id < k` seeding generalized to a view whose id space
   * includes absorbed batches). Note retrain CONSOLIDATES and re-centers;
   * it does not promise balance — k-means on a skewed feed can keep a
   * heavy cell. Balance is [[splitIvfCells]]'s job, and the two compose:
   * retrain, then split the cells that remain hot.
   */
  def retrainIvfIndex(spark: SparkSession, sfDir: String): IvfIndex = {
    import spark.implicits._
    ivfIndex(spark, sfDir) // ensure base entries exist
    val fp = corpusFingerprint(sfDir, Stores.IvfIndex.table)
    val chf = headFile(spark, Stores.IvfCentroids, sfDir)
    withHeadLock(chf) {
      val curCents = readAt(spark, sfDir, Stores.IvfCentroids, fp)
        .select(col("centroid_id").cast("long").as("centroid_id"), col("vec"))
      val maxId = curCents.agg(max("centroid_id")).head().getLong(0)
      val cur = ivfIndexAt(spark, sfDir, fp).assignment
      val ledger = readHead(headFile(spark, Stores.IvfIndex, sfDir))
        .filter(_.baseFp == fp).map(_.absorbed).getOrElse(Nil)
      val tag = s"$fp:retrain:${md5Hex(ledger.mkString(",")).take(8)}:" +
        readHead(chf).map(_.absorbed.size).getOrElse(0)
      // k smallest live ids seed the train, labels relocated past maxId so
      // the retrained cells overlap no existing (live or retired) cell id
      val seedIds = cur.select("id").orderBy("id").limit(IvfK)
        .as[Long].collect()
      val init = cur.where(col("id").isin(seedIds: _*))
        .select((col("id") + maxId + 1).as("centroid_id"), col("v").as("vec"))
      val trained = Similarity.ivfTrainCentroids(
          cur, "id", "v", IvfK, IvfIters, init = Some(init))
        .select(col("centroid_id").cast("long"), col("vec"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
      val newCents = trained.toDF("centroid_id", "vec")
      val rows = Similarity.ivfIndexRows(cur, "id", "v", newCents)
      // phase 1: entries + appended heads — invisible behind the old centroids
      val pq = publishCells(spark, sfDir, fp, tag, rows, newCents)
      // phase 2 — COMMIT: the centroid swap retires every old cell at once
      val centEntry = derivedName(Stores.IvfCentroids, sfDir, s"$tag:cents")
      writeEntry(spark, centEntry)(newCents)
      resetHead(spark, sfDir, Stores.IvfCentroids, fp, centEntry,
        l => l :+ s"retrain-${l.size}")
      // phase 3 — collapse the data heads to the single fresh generation
      // (read-amplification cleanup; every old entry is already invisible)
      val idxEntry = derivedName(Stores.IvfIndex, sfDir, s"$tag:idx")
      val idxHead = withHeadLock(headFile(spark, Stores.IvfIndex, sfDir)) {
        resetHead(spark, sfDir, Stores.IvfIndex, fp, idxEntry, _ => ledger)
      }
      pq.foreach { pqEntry =>
        withHeadLock(headFile(spark, Stores.PqCodes, sfDir)) {
          resetHead(spark, sfDir, Stores.PqCodes, fp, pqEntry)
        }
      }
      sweepUnreferenced(spark, sfDir, Stores.IvfIndex, idxHead)
      ivfIndexAt(spark, sfDir, fp)
    }
  }

  /** Phase 1 of a split or retrain: write the reassigned index `rows` (and,
    * when a PQ code table exists, their residual codes against `cents` and
    * the UNCHANGED codebooks) as entries named after `tag`, and append them
    * to their heads — invisible until the caller's centroid head swap, as
    * no live centroid references their cells yet. Returns the code entry,
    * if one was written. */
  private def publishCells(spark: SparkSession, sfDir: String, fp: String,
                           tag: String, rows: DataFrame,
                           cents: DataFrame): Option[String] = {
    val idxEntry = derivedName(Stores.IvfIndex, sfDir, s"$tag:idx")
    writeEntry(spark, idxEntry, Stores.IvfIndex.partitionCols)(rows)
    appendToHead(spark, sfDir, Stores.IvfIndex, fp, idxEntry)
    Option.when(committed(spark, baseName(Stores.PqCodes, sfDir, fp))) {
      val pqEntry = derivedName(Stores.PqCodes, sfDir, s"$tag:pq")
      writeEntry(spark, pqEntry, Stores.PqCodes.partitionCols)(
        Similarity.pqEncode(Similarity.ivfResiduals(rows, cents),
          "id", "rv", pqCodebooks(spark, sfDir), dims = 64,
          cellCol = Some("centroid_id")))
      appendToHead(spark, sfDir, Stores.PqCodes, fp, pqEntry)
      pqEntry
    }
  }

  /** Run `body` against an ISOLATED copy of the committed store entries
    * whose names start with one of `kindPrefixes` — the sandbox the
    * maintenance demo queries (`sim_ivf_split` / `sim_ivf_retrain`) run
    * in, so their head swaps can never move the shared artifacts every
    * other oracle replays. The caller ensures the shared entries exist
    * first (built once, amortized across the whole query registry); the
    * copy is cheap by construction — store entries are the compact
    * artifacts (centroid sidecars, cell-partitioned assignments), not the
    * corpus. Heads are NOT copied: the sandbox starts headless and the
    * newest-entry rule serves the copied base. Conf and session caches
    * are restored afterwards; frames created inside keep reading the
    * already-written sandbox files. */
  def withStoreSandbox[A](spark: SparkSession,
                          kindPrefixes: Seq[String])(body: => A): A = {
    import scala.jdk.CollectionConverters._
    val src = vdir(spark)
    val tmpRoot = Files.createTempDirectory("graft-sandbox")
    val dst = tmpRoot.resolve(s"v$FormatVersion")
    Files.createDirectories(dst)
    if (Files.isDirectory(src)) {
      val s = Files.list(src)
      try s.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        if (kindPrefixes.exists(n.startsWith) && !n.endsWith(".json") &&
            !n.contains(".tmp-") && Files.exists(p.resolve("_SUCCESS"))) {
          val w = Files.walk(p)
          try w.iterator().asScala.foreach { f =>
            val t = dst.resolve(n).resolve(p.relativize(f).toString)
            if (Files.isDirectory(f)) Files.createDirectories(t)
            else { Files.createDirectories(t.getParent); Files.copy(f, t) }
          } finally w.close()
        }
      } finally s.close()
    }
    val prev = spark.conf.getOption("spark.graft.materialized.dir")
    spark.conf.set("spark.graft.materialized.dir", tmpRoot.toString)
    clearSessionCache()
    try body finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.materialized.dir", v)
        case None => spark.conf.unset("spark.graft.materialized.dir")
      }
      clearSessionCache()
    }
  }

  /** Outcome of a [[splitIvfCells]] run: the cells split (in order), the
    * max cell share before/after, and the maintained index view. */
  final case class IvfSplitReport(splitCells: Seq[Long], maxShareBefore: Double,
                                  maxShareAfter: Double, index: IvfIndex)

  /**
   * IVF cell maintenance: split over-occupied cells by LOCAL 2-means — the
   * remedy for the skew [[appendIvfIndex]] accumulates when a drifting
   * feed piles into cells trained on the original corpus (`sim_ivf_cells`
   * is the dial this acts on). Repeatedly, while the hottest cell holds
   * more than `maxShare` of the index: read ONLY that cell's rows from the
   * stored assignment (a partition-pruned scan — the corpus is never
   * re-read and no other cell is touched), train 2 child centroids on them
   * (deterministic min-id seeds), reassign the cell's rows to the
   * children, and publish.
   *
   * Publication reuses the generation machinery and is crash-atomic at the
   * CENTROID head swap: the reassigned child rows (and, when a PQ code
   * table exists, their re-encoded residual codes — against the UNCHANGED
   * codebooks, the classic IVF-PQ split) are appended as index/code
   * generations first — invisible, because no live centroid references the
   * child cells yet — then one atomic centroid-head replace retires the
   * parent and exposes the children. The parent's rows stay in their old
   * generations as dead weight hidden by the live-cell filter
   * ([[filterLiveCells]]); child ids are allocated past the current max,
   * so a retired cell id is never reused and hidden rows can never
   * resurface. A crash between the phases leaves only unreferenced
   * entries, and a re-run recomputes the same deterministic names and
   * resumes idempotently.
   *
   * Serializes with [[appendIvfIndex]] on the centroid head lock (same
   * centroid → index lock order). [[ivfIndex]], [[pqCodes]] and the PQ
   * codebooks stay pinned to the trained base; [[ivfIndexCurrent]] /
   * [[pqCodesCurrent]] / [[ivfCentroidsCurrent]] follow the maintenance.
   * A cell 2-means cannot separate (all-identical vectors, or fewer than
   * 2 rows) is skipped — `maxShareAfter` then reports the floor honestly.
   */
  def splitIvfCells(spark: SparkSession, sfDir: String,
                    maxShare: Double = 0.30, maxRounds: Int = 8): IvfSplitReport = {
    import spark.implicits._
    ivfIndex(spark, sfDir) // ensure trained base entries exist
    val fp = corpusFingerprint(sfDir, Stores.IvfIndex.table)

    withHeadLock(headFile(spark, Stores.IvfCentroids, sfDir)) {
      var splits = Vector.empty[Long]
      var stuck = Set.empty[Long]
      var shareBefore = -1.0
      var shareAfter = -1.0

      def occupancy(): Array[(Long, Long)] = {
        ivfIndexAt(spark, sfDir, fp).assignment.groupBy("centroid_id").count().collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }

      var rounds = 0
      var done = false
      var occFresh = false // does shareAfter reflect the state AFTER the last split?
      while (!done && rounds < maxRounds) {
        val occ = occupancy()
        val total = occ.map(_._2).sum.toDouble
        val overallMax = if (total == 0) 0.0 else occ.map(_._2).max / total
        if (shareBefore < 0) shareBefore = overallMax
        shareAfter = overallMax
        occFresh = true
        occ.sortBy { case (cid, c) => (-c, cid) }
          .find { case (cid, c) => !stuck(cid) && c >= 2 && c / total > maxShare } match {
          case None => done = true
          case Some((hotCell, _)) =>
            val cents = readAt(spark, sfDir, Stores.IvfCentroids, fp)
              .select(col("centroid_id").cast("long").as("centroid_id"), col("vec"))
            val centRows = cents.as[(Long, Seq[Double])].collect().sortBy(_._1)
            val view = ivfIndexAt(spark, sfDir, fp).assignment
            val cellRows = view.where(col("centroid_id") === hotCell)
            // deterministic 2-means seeds: the cell's two smallest ids
            val seedIds = cellRows.select("id").orderBy("id").limit(2)
              .collect().map(_.getLong(0))
            val children: Seq[(Long, Seq[Double])] =
              if (seedIds.length < 2) Nil
              else {
                val init = cellRows.where(col("id").isin(seedIds: _*))
                  .select(col("id").as("centroid_id"), col("v").as("vec"))
                val sub = Similarity.ivfTrainCentroids(
                    cellRows, "id", "v", 2, IvfIters, init = Some(init))
                  .select(col("centroid_id").cast("long"), col("vec"))
                  .as[(Long, Seq[Double])].collect().sortBy(_._1)
                val nextId = centRows.map(_._1).max + 1
                sub.zipWithIndex.map { case ((_, v), i) => (nextId + i, v) }.toSeq
              }
            if (children.size < 2) stuck += hotCell
            else {
              val tag = s"$fp:split:${(splits :+ hotCell).mkString(",")}"
              val childCents = children.toDF("centroid_id", "vec")
              // phase 1: child index rows and their remapped PQ codes —
              // residuals vs the CHILD centroids, same codebooks
              publishCells(spark, sfDir, fp, tag,
                Similarity.ivfIndexRows(cellRows, "id", "v", childCents), childCents)
              // phase 2 — COMMIT: one atomic centroid-head swap retires the
              // parent and exposes the children everywhere at once
              val revised = (centRows.filterNot(_._1 == hotCell) ++ children)
                .sortBy(_._1).toSeq
              val revName = derivedName(Stores.IvfCentroids, sfDir, s"$tag:cents")
              writeEntry(spark, revName)(revised.toDF("centroid_id", "vec"))
              resetHead(spark, sfDir, Stores.IvfCentroids, fp, revName,
                _ :+ s"split-$hotCell")
              splits :+= hotCell
              occFresh = false
            }
        }
        rounds += 1
      }
      if (!occFresh || shareAfter < 0) {
        val occ = occupancy()
        val total = occ.map(_._2).sum.toDouble
        shareAfter = if (total == 0) 0.0 else occ.map(_._2).max / total
      }
      IvfSplitReport(splits, shareBefore, shareAfter, ivfIndexAt(spark, sfDir, fp))
    }
  }

  /** One store entry's operational status: `role` is `head-base` /
    * `head-delta` (position in a valid head's entry list), `headless`
    * (no head for the group — the newest-mtime entry is the live one),
    * `unreferenced` (superseded generation or orphaned delta awaiting a
    * sweep), or `broken-head-ref` (referenced by a head whose chain lost
    * an entry — reads do NOT serve that chain; the next absorb restarts
    * it from the base). */
  final case class StoreEntryStatus(name: String, kind: String, pathFp: String,
                                    config: String, role: String, files: Long,
                                    bytes: Long, modifiedMs: Long)

  /**
   * Ops introspection of the materialized store: one row per entry with
   * its size and head role — what a day-N ingestion operator checks
   * before/after absorbs, appends, [[gc]] and compaction ("how many
   * generations is this chain? what would a sweep reclaim?"). Driver-side
   * directory walk, same scope as the store itself (the store root is
   * local/shared-FS by construction).
   */
  def storeStatus(spark: SparkSession): Seq[StoreEntryStatus] = {
    val vd = vdir(spark)
    if (!Files.isDirectory(vd)) return Nil
    import scala.jdk.CollectionConverters._
    val all = {
      val s = Files.list(vd)
      // in-flight `.tmp-` staging copies are not entries — reporting them
      // would inflate the reclaimable-bytes picture with phantom rows
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.contains(".tmp-")).toSeq
      finally s.close()
    }
    // a head is trusted only after the SAME existence validation readers
    // apply ([[liveHeadAt]]'s entry check): a head whose chain lost an entry
    // is BROKEN — reads degrade past it, so reporting its roles as live
    // would hide exactly the store damage this report exists to surface.
    // (baseFp currency needs the corpus path, which the store-wide walk
    // does not have — staleness stays the reader's check.)
    val heads: Map[(String, String, String), (StoreHead, Boolean)] = all.flatMap { p =>
      p.getFileName.toString match {
        case HeadFileName(kind, pfp, cfg) =>
          readHead(p).map { h =>
            val intact = h.entries.forall(e =>
              Files.exists(vd.resolve(e).resolve("_SUCCESS")))
            ((kind, pfp, cfg), (h, intact))
          }
        case _ => None
      }
    }.toMap
    all.flatMap { p =>
      p.getFileName.toString match {
        case EntryName(kind, pfp, _, cfg) =>
          val name = p.getFileName.toString
          val role = heads.get((kind, pfp, cfg)) match {
            case Some((h, true)) if h.entries.headOption.contains(name) => "head-base"
            case Some((h, true)) if h.entries.contains(name) => "head-delta"
            case Some((h, false)) if h.entries.contains(name) => "broken-head-ref"
            case Some(_) => "unreferenced"
            case None => "headless"
          }
          // per-file size reads race concurrent sweeps — a file deleted
          // between the walk and its stat contributes 0 instead of
          // crashing the report exactly when the store is busy
          def safeSize(f: Path): Long =
            try Files.size(f) catch { case _: java.io.IOException => 0L }
          val (files, bytes) =
            try {
              if (Files.isDirectory(p)) {
                val s = Files.walk(p)
                try {
                  val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
                  (fs.size.toLong, fs.map(safeSize).sum)
                } finally s.close()
              } else (1L, safeSize(p))
            } catch { case _: java.io.IOException => (0L, 0L) }
          val mtime = try Files.getLastModifiedTime(p).toMillis
                      catch { case _: java.io.IOException => 0L }
          Some(StoreEntryStatus(name, kind, pfp, cfg, role, files, bytes, mtime))
        case _ => None
      }
    }.sortBy(e => (e.kind, e.pathFp, e.config, e.name))
  }

  /** Pair-table summary at the ANN search threshold (cosine ≥ 0.3).
    * `minCosine` is None on a corpus with no pairs ≥ 0.3. */
  final case class EmbeddingPairStats(nPairs: Long, minCosine: Option[Double])

  /**
   * (count, min cosine) of the banded-LSH pair set at cosine ≥ 0.3 —
   * `sim_ann_lsh`'s conformance summary. Computed by ONE streaming
   * aggregation over the banded join's output (the ≥0.3 pair set is never
   * persisted or written — at low thresholds it approaches n²/2 rows and
   * only this scalar summary is consumed), then stored as a JSON sidecar so
   * restarts and repeat calls read two numbers instead of re-running the
   * join.
   */
  def embeddingPairStats(spark: SparkSession, sfDir: String): EmbeddingPairStats = {
    val file = vdir(spark).resolve(
      entryName("emb_pair_stats", sfDir, "embeddings", "d64_t030_r3b64") + ".json")
    statsCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}|$file", {
      if (Files.exists(file)) parseStats(Files.readString(file))
      else {
        buildsStarted.incrementAndGet()
        val row = Dedup.embeddingNearDupLsh(Tables.embeddings(spark, sfDir),
            "vec_id", "embedding", dims = 64, threshold = 0.3)
          .agg(count(lit(1)).as("n"), min(col("cosine")).as("m"))
          .head()
        val stats = EmbeddingPairStats(row.getLong(0),
          Option(row.getAs[java.lang.Double]("m")).map(_.doubleValue))
        Files.createDirectories(file.getParent)
        sweepStaleTmp(file)
        val tmp = file.getParent.resolve(
          s"${file.getFileName}.tmp-${java.util.UUID.randomUUID()}")
        Files.writeString(tmp, renderStats(stats))
        publish(tmp, file)
        sweepSuperseded(spark, file.getFileName.toString)
        stats
      }
    })
  }

  // scalar JSON sidecar: Double.toString round-trips exactly, so the stored
  // minCosine is bit-identical after a restart
  private def renderStats(s: EmbeddingPairStats): String =
    s"""{"nPairs":${s.nPairs},"minCosine":${s.minCosine.map(_.toString).getOrElse("null")}}"""

  private def parseStats(json: String): EmbeddingPairStats = {
    val re = """\{"nPairs":(\d+),"minCosine":(null|[-0-9.eE]+)\}""".r
    json.trim match {
      case re(n, m) =>
        EmbeddingPairStats(n.toLong,
          if (m == "null") None else Some(java.lang.Double.parseDouble(m)))
      case other =>
        throw new IllegalStateException(s"corrupt pair-stats sidecar: $other")
    }
  }
}
