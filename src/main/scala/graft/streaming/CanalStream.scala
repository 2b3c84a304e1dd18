package graft.streaming

import graft.cdc.{CdcApply, PkHash}
import graft.model.{CanalEvent, MappingConfig}
import graft.transform.DmlTransforms
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicReference

/**
 * S1/X2/X5 + the §3.1 sync hot path as Structured Streaming:
 *
 * `readStream (Canal JSON) → from_json → flatten (T1) → route (X2) →
 * repartition by PK hash (P2/P3) → foreachBatch { ordered apply K1–K4 with
 * D5 self-heal }`.
 *
 * The reference's push-batch SPI (`PhoenixAdapter.sync`,
 * `PhoenixAdapter.java:143-152`) maps to a micro-batch; its in-process
 * worker queues map to the shuffle; binlog order is carried explicitly as
 * `(es, ts, seq, pos)` (SURVEY §7.4 risk 1). DDL events act as a barrier:
 * each micro-batch is split at DDL boundaries and segments apply
 * sequentially (`PhoenixSyncService.java:180-198` runs DDL inline; risk 4);
 * a TRUNCATE splits it the same way. Different target tables apply
 * concurrently, and a barrier-free micro-batch runs one stats job plus one
 * job per active table (see [[CanalStream.start]]).
 *
 * X5 — config hot-reload: the route table is an `AtomicReference` read at
 * the top of every micro-batch, updated by a driver-side watcher
 * (reference polls the conf dir every 3 s,
 * `monitor/PhoenixConfigMonitor.java:41-51`).
 *
 * INGRESS ORDERING — the reference consumes ONE ordered binlog stream
 * (`PhoenixAdapter.java:143-152`); a Spark ingress is multi-partition, so
 * the order must come from source metadata rather than a driver-side
 * re-sequencing. [[IngressOrdering]] picks the order key:
 *
 *  - [[IngressOrdering.KafkaOffsets]]: `seq = partition << 42 | offset` —
 *    Kafka's per-partition offsets ARE the binlog order under canal's MQ
 *    partitioning (all events of one table hash to one partition, DDL
 *    included), so every comparison the engine makes — per-key order and
 *    DDL-barrier splits, both scoped to one table — happens between seqs
 *    of the SAME partition, where the composite is exact. No extra job, no
 *    coalesce: micro-batches parse/flatten at full source parallelism.
 *  - [[IngressOrdering.FileOrder]]: `seq = fileRank << 42 | positionInFile`
 *    — canal file rotation is chronological, so files rank by name (one
 *    tiny driver `distinct` on the batch's file list); position within a
 *    file is the intra-partition read index (exact while a file stays
 *    within one scan split — set `maxPartitionBytes` ≥ the rotation size).
 *    Batches with no file metadata (memory source) degrade to SingleStream.
 *  - [[IngressOrdering.SingleStream]]: the strict fallback — sequence the
 *    whole batch on one task (`coalesce(1)`). Exact for any source, but
 *    serializes parse/flatten; at 100× CDC volume that single task is the
 *    ingest ceiling, so it is no longer the default.
 *
 * In every mode the seq only breaks ties within `(es, ts)` — binlog
 * timestamps lead the order key ([[DmlTransforms.withOrderKey]]) — and
 * parallelism downstream of the flatten comes from the PK-hash shuffle.
 */
object CanalStream {

  /** How the per-event `seq` (binlog order within equal `(es, ts)`) is
    * derived from the ingress source. See the class doc for the contract
    * each mode assumes. */
  sealed trait IngressOrdering
  object IngressOrdering {
    /** `KafkaOffsets` when the raw stream carries `partition`/`offset`
      * columns, else `FileOrder` (which itself degrades to `SingleStream`
      * on batches without file metadata). */
    case object Auto extends IngressOrdering
    case object SingleStream extends IngressOrdering
    case object KafkaOffsets extends IngressOrdering
    case object FileOrder extends IngressOrdering
  }

  /** Low 42 bits of `seq` hold the within-stream position (Kafka offset /
    * in-file index); bits above hold the stream id (Kafka partition / file
    * rank). Comparisons are only ever made within one table's stream, where
    * the high bits are constant. */
  private val SeqPosBits = 42

  /** Per-segment context handed to `applyBatch`: the distinct source
    * columns of the segment's row images. [[start]] always sets them —
    * from the batch's stats pass, or, for a table with a DDL barrier in
    * the batch, from one pass over its rows split at the barriers (a
    * column may only exist after the ALTER). */
  final case class SegmentCtx(sourceCols: Option[Seq[String]] = None)

  /** Parse a raw JSON-line stream into Dml rows. */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(from_json(col(valueCol).cast("string"), CanalEvent.dmlSchema).as("e"))
      .select("e.*")

  /** X2 — route one micro-batch to the configs matching its
    * destination/database/table (an event can fan out to several configs). */
  def routeFor(batch: DataFrame, config: MappingConfig): DataFrame = {
    val m = config.dbMapping
    batch.filter(
      col("destination") === config.destination &&
        col("database") === m.database && col("table") === m.table)
  }

  /** Resolve `Auto` against the raw stream's columns (exposed for tests). */
  private[streaming] def resolveOrdering(rawColumns: Seq[String],
                                         ordering: IngressOrdering): IngressOrdering =
    ordering match {
      case IngressOrdering.Auto =>
        if (rawColumns.contains("partition") && rawColumns.contains("offset"))
          IngressOrdering.KafkaOffsets
        else IngressOrdering.FileOrder
      case m => m
    }

  /** Parse, carrying the mode's ordering metadata through `from_json`. */
  private def parseOrdered(raw: DataFrame, mode: IngressOrdering): DataFrame = mode match {
    case IngressOrdering.KafkaOffsets =>
      raw.select(
        from_json(col("value").cast("string"), CanalEvent.dmlSchema).as("e"),
        (shiftleft(col("partition").cast("long"), SeqPosBits) +
          col("offset").cast("long")).as("_seq"))
        .select(col("e.*"), col("_seq"))
    case IngressOrdering.FileOrder =>
      raw.select(
        from_json(col("value").cast("string"), CanalEvent.dmlSchema).as("e"),
        input_file_name().as("_src_file"))
        .select(col("e.*"), col("_src_file"))
    case _ => parse(raw)
  }

  /** Materialize the mode's order key as the `seq` column over the cached
    * flattened batch (exposed for tests). `files` is the batch's sorted
    * file list (FileOrder only — gathered by the stats pass);
    * no mode runs an extra Spark job here. */
  private[streaming] def assignSeq(flat0: DataFrame, mode: IngressOrdering,
                                   files: Seq[String] = Seq.empty): DataFrame =
    mode match {
      case IngressOrdering.KafkaOffsets =>
        flat0.withColumnRenamed("_seq", "seq")
      case IngressOrdering.FileOrder =>
        if (files.isEmpty || files.forall(_.isEmpty))
          // no file metadata (memory source): strict single-stream fallback
          flat0.drop("_src_file").coalesce(1)
            .withColumn("seq", monotonically_increasing_id())
        else {
          val rank = map(files.zipWithIndex.flatMap {
            case (f, i) => Seq(lit(f), lit(i.toLong))
          }: _*)
          // a lookup miss (file-name rendering drift between the rank list
          // and input_file_name) must fail the batch, not silently null the
          // order key
          val rankCol = element_at(rank, col("_src_file"))
          val checked = when(rankCol.isNotNull, rankCol)
            .otherwise(raise_error(concat(lit("unranked source file: "), col("_src_file")))
              .cast("long"))
          // in-file position = intra-partition read index (a rotation-sized
          // file stays in one scan split, so the masked partition bits are
          // constant per file and the index carries the line order;
          // monotonically_increasing_id over the CACHED partitions is
          // deterministic across the batch's downstream jobs)
          flat0.withColumn("seq",
              shiftleft(checked, SeqPosBits) +
                monotonically_increasing_id().bitwiseAND(lit((1L << SeqPosBits) - 1)))
            .drop("_src_file")
        }
      case _ =>
        flat0.coalesce(1).withColumn("seq", monotonically_increasing_id())
    }

  /** One routed table's share of the batch's stats pass: whether it
    * carries DDL or a TRUNCATE (both split the table's rows into segments),
    * and the distinct source columns of its row images. */
  private final case class TableStat(hasDdl: Boolean, hasTruncate: Boolean,
                                     srcCols: Set[String]) {
    def merge(o: TableStat): TableStat =
      TableStat(hasDdl || o.hasDdl, hasTruncate || o.hasTruncate, srcCols ++ o.srcCols)
  }

  /** The batch's stats: a [[TableStat]] per routed
    * `(destination, database, table)`, and the source-file set (FileOrder
    * only). Partials of the per-partition fold merge into the whole. */
  private final case class BatchStats(tables: Map[(String, String, String), TableStat],
                                      files: Set[String]) {
    def merge(o: BatchStats): BatchStats = BatchStats(
      o.tables.foldLeft(tables) { case (acc, (k, t)) =>
        acc.updated(k, acc.get(k).fold(t)(_.merge(t)))
      },
      files ++ o.files)
  }

  /** The stats pass: one job with no exchange — each partition of the
    * flattened batch folds its rows into a [[BatchStats]], merged on the
    * driver. It is the batch's first job over `flat0`, so it also fills
    * the cache. */
  private def batchStats(flat0: DataFrame, withFiles: Boolean): BatchStats = {
    val cols = Seq(col("destination"), col("database"), col("table"),
      coalesce(col("isDdl"), lit(false)),
      coalesce(col("type") === CanalEvent.Truncate, lit(false)),
      map_keys(col("data"))) ++ (if (withFiles) Seq(col("_src_file")) else Nil)
    flat0.select(cols: _*).rdd.mapPartitions { rows =>
      val tables = scala.collection.mutable.HashMap.empty[(String, String, String), TableStat]
      val files = scala.collection.mutable.HashSet.empty[String]
      rows.foreach { r =>
        val stat = TableStat(r.getBoolean(3), r.getBoolean(4),
          if (r.isNullAt(5)) Set.empty else r.getSeq[String](5).toSet)
        val k = (r.getString(0), r.getString(1), r.getString(2))
        tables.update(k, tables.get(k).fold(stat)(_.merge(stat)))
        if (withFiles) files += r.getString(6)
      }
      Iterator.single(BatchStats(tables.toMap, files.toSet))
    }.collect().foldLeft(BatchStats(Map.empty, Set.empty))(_.merge(_))
  }

  /**
   * Start the sync stream. `applyBatch` receives (config, orderedSingles,
   * segmentCtx) per micro-batch segment — in production it applies through
   * [[graft.sink.UpsertSink]] (pass `ctx.sourceCols` to
   * [[applyBatchToJdbc]]); tests can capture state instead.
   *
   * Each micro-batch runs one stats pass, then one *chain* per target
   * table (`dbMapping.targetTable`): the configs writing that table, in
   * config order, each applying its DDL-barrier segments and `onDdl` calls
   * in binlog order. Chains run concurrently on driver threads, so their
   * planning and Spark jobs overlap — the reference likewise applies a
   * push batch's tables through shared worker queues at once
   * (`PhoenixSyncService.java:87-99,134-140`); only the per-key order
   * within a table decides the final state.
   *
   * The Spark jobs of a micro-batch: the stats pass is one job with no
   * exchange (a per-partition fold over the cached flatten, merged on the
   * driver; it also fills the cache), then each segment is one job — its
   * PK-hash shuffle and its ordered apply as two stages. A table with
   * DDL or TRUNCATE barriers adds one job that collects them and, with
   * DDL, one that derives every segment's source columns. A barrier-free
   * batch over `n` active tables so runs `1 + n` jobs. Every batch plans
   * on the stream's own session (a clone the caller never sees) with
   * adaptive query execution off: each exchange has an explicit partition
   * count (`numPartitions`, or 1 for a serial table), so AQE has nothing
   * to adapt, and with it on each segment ran its shuffle as a job of its
   * own and then re-planned the apply as another. `applyBatch` callbacks
   * therefore run non-adaptively too; `spark.sql.shuffle.partitions`
   * sizes no shuffle of the stream path.
   *
   * Consequences for callers:
   *
   *  - `applyBatch` and `onDdl` may run at the same time for different
   *    target tables, so they (and any `heal` they pass on) must be
   *    thread-safe; calls for one target table never overlap.
   *  - Open JDBC connections are bounded by the executor task slots (one
   *    per running apply task), not by `numPartitions`.
   *  - A config whose table has no row in the micro-batch gets no work at
   *    all: no job, no `applyBatch` call, no connection.
   *  - When a chain fails, the batch still waits for every other chain,
   *    then fails with the first chain's error (the others attached as
   *    suppressed); the replay on restart re-applies the whole batch.
   *  - `StreamingQuery.stop()` returns only after every chain of the
   *    running batch has ended (see [[graft.Chains.run]]).
   *
   * `checkpointLocation` enables restart/recovery: source offsets and batch
   * commits go to the WAL, so a restarted query resumes at the first
   * uncommitted batch. The sink contract is at-least-once — a crash between
   * the JDBC apply and the commit marker replays that whole micro-batch on
   * restart — which is exactly the reference's delivery model
   * (`PhoenixAdapter.sync` retries the push batch until acked), and safe
   * here for the same reason: the apply is an idempotent PK-keyed upsert /
   * delete, so a replay converges to the same final state (SURVEY §7.4
   * risk 5; exercised end-to-end in StreamingSpec's kill-and-restart case).
   */
  def start(spark: SparkSession, raw: DataFrame,
            configsRef: AtomicReference[Seq[MappingConfig]],
            numPartitions: Int,
            applyBatch: (MappingConfig, DataFrame, SegmentCtx) => Unit,
            onDdl: (MappingConfig, DdlBarrier.DdlEvent) => Unit = (_, _) => (),
            ordering: IngressOrdering = IngressOrdering.Auto,
            checkpointLocation: Option[String] = None): StreamingQuery = {
    val mode = resolveOrdering(raw.columns.toSeq, ordering)
    val writer = parseOrdered(raw, mode).writeStream
      .outputMode("append")
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the stream's own session, a clone of the caller's: every exchange
        // below has an explicit partition count, so AQE has nothing to
        // adapt — it would only run each table's shuffle as a job of its
        // own and re-plan the apply as another
        batch.sparkSession.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
        // flatten first (order-preserving per partition), THEN derive the
        // order key — so the single stats pass below can also collect the
        // batch's file list and no ingress mode pays an extra job
        val flat0 = DmlTransforms.flatten(batch)
        flat0.persist()
        try {
          // ONE pass over the cached flatten yields, per routed table, the
          // DDL/TRUNCATE-presence flags and the distinct source columns
          // (the mapped-column check itself is per-row in the reference,
          // `PhoenixSyncService.java:399-404`) — plus, for FileOrder, the
          // source-file set that ranks the batch's files
          val stats = batchStats(flat0, mode == IngressOrdering.FileOrder)
          val flat = DmlTransforms.withOrderKey(assignSeq(flat0, mode, stats.files.toSeq.sorted))
          // idle tables (no row in this batch) drop out here
          val active = configsRef.get().flatMap { c =>
            stats.tables.get((c.destination, c.dbMapping.database, c.dbMapping.table))
              .map(c -> _)
          }
          graft.Chains.run(graft.Chains.byKey(active)(_._1.dbMapping.targetTable).map { chain =>
            () => chain.foreach { case (config, stat) =>
              applyTable(flat, config, stat, numPartitions, applyBatch, onDdl)
            }
          })
        } finally flat0.unpersist()
        ()
      }
      .start()
  }

  /** One config's share of a micro-batch: its DML segments between DDL /
    * TRUNCATE barriers, each barrier applied in binlog order between them.
    * Each segment runs as one job (shuffle + ordered apply); a table with
    * barriers adds one job to collect them and, when one is DDL, one to
    * derive every segment's source columns (a column may exist only after
    * an ALTER). */
  private def applyTable(flat: DataFrame, config: MappingConfig, stat: TableStat,
                         numPartitions: Int,
                         applyBatch: (MappingConfig, DataFrame, SegmentCtx) => Unit,
                         onDdl: (MappingConfig, DdlBarrier.DdlEvent) => Unit): Unit = {
    val m = config.dbMapping
    val routedAll = routeFor(flat, config)
    val barriers =
      if (stat.hasDdl || stat.hasTruncate) DdlBarrier.ddlEvents(routedAll, config)
      else Seq.empty
    val dml = routedAll.where(!coalesce(col("isDdl"), lit(false)))
    val segments = DdlBarrier.segments(dml, barriers)
    val segmentCols =
      if (stat.hasDdl) DdlBarrier.sourceCols(dml, barriers)
      else segments.map(_ => stat.srcCols.toSeq.sorted)
    val pk = m.targetPk.values.toSeq.sorted
    val order = Seq("order_key", "sub_seq")
    // DDL and TRUNCATE act as ordering barriers (SURVEY §7.4 risk 4): apply
    // each DML segment, then its following barrier, sequentially
    segments.zip(segmentCols).foreach { case ((barrier, segment), srcCols) =>
      barrier.filterNot(_.truncate).foreach(d => onDdl(config, d))
      // K2 pk-change expansion BEFORE the shuffle: the old-key DELETE
      // must route to the OLD key's partition to stay ordered against
      // that key's other ops. (The reference routes the whole UPDATE
      // by the post-image hash — `PhoenixSyncService.java:609-628` —
      // which races the old-key delete against concurrent old-key
      // writes; the pre-shuffle expansion removes that race.)
      val expanded = CdcApply.expandPkChanges(segment, pk)
      // a TRUNCATE row has no key: hashed, it would land in one PK
      // partition and run while the others still apply earlier rows, so
      // its segment (the marker row alone) applies on one partition
      val ordered =
        if (config.concurrent && !barrier.exists(_.truncate))
          PkHash.routeConcurrent(expanded, pk.map(p => s"data.$p"), numPartitions, order)
        else PkHash.routeSerial(expanded, order)
      applyBatch(config, ordered, SegmentCtx(Some(srcCols)))
    }
  }

  /**
   * Apply one routed+ordered micro-batch segment to a JDBC target (the
   * production `applyBatch` for [[start]]): T3 coercion of the string row
   * images to the probed target schema (S4), E1 enum decode, then
   * per-partition sequential apply through the sink (K1–K4), each
   * partition streamed once through a bounded JDBC window.
   *
   * D5 self-heal (`PhoenixSyncService.java:103-131`) runs here on the
   * driver, once per failing segment: when an attempt fails with a schema
   * miss ([[graft.sink.UpsertSink.isSchemaMiss]] — a mapped column absent
   * from the target, or a `TableNotFound`/`ColumnNotFound` raised by JDBC
   * inside a task), `heal` (D4 schema sync) runs, the target is re-probed
   * and the whole segment replays once — safe because the segment is
   * deterministic and the apply idempotent (at-least-once, SURVEY §7.4
   * risk 5). A second failure is thrown as is. `heal` must be thread-safe
   * (see [[start]]) but need not be serializable.
   */
  def applyBatchToJdbc(config: MappingConfig, ordered: DataFrame,
                       targetSchema: org.apache.spark.sql.types.StructType,
                       connFactory: () => java.sql.Connection,
                       dialect: graft.sink.SqlDialect = graft.sink.PhoenixSqlDialect,
                       heal: Option[Throwable => Unit] = None,
                       sourceColsHint: Option[Seq[String]] = None): Unit = {
    import graft.sink.{SchemaProbe, UpsertSink}
    import graft.transform.Coercion
    val m = config.dbMapping
    // skipMissing (reference PhoenixSyncService.java:399-404): a mapped
    // column absent from the probed target schema is warn-and-skipped when
    // true; when false the miss is a schema error (healed below). Mapped
    // columns come from the batch's own row images — via `sourceColsHint`
    // when the caller already derived them ([[start]] passes them for every
    // segment as `SegmentCtx.sourceCols`), else one distinct-keys agg here
    // (the reference checks the same per row against metadata).
    val batchSourceCols = sourceColsHint.getOrElse {
      ordered
        .agg(array_distinct(flatten(collect_set(map_keys(col("data"))))).as("ks"))
        .head() match {
          case r if r.isNullAt(0) => Seq.empty[String]
          case r => r.getSeq[String](0)
        }
    }
    // segments with no row images (TRUNCATE-only, or empty between two DDL
    // barriers) have nothing to project — never trigger a spurious heal
    val mappedTargets =
      if (batchSourceCols.isEmpty) Seq.empty
      else graft.transform.ColumnMapper.columnsMap(m, batchSourceCols).map(_._1)
    def attempt(schema: org.apache.spark.sql.types.StructType): Unit = {
      val missing = mappedTargets.filterNot(t => schema.fieldNames.exists(_.equalsIgnoreCase(t)))
      if (missing.nonEmpty && m.skipMissing)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"skipMissing: target ${m.targetTable} lacks mapped columns " +
            s"${missing.mkString(", ")} — skipped")
      else if (missing.nonEmpty) throw new RuntimeException(
        s"ColumnNotFound: target ${m.targetTable} lacks mapped columns ${missing.mkString(", ")}")
      // input is already pk-change-expanded and partition-ordered by start()
      val decoded = schema.fields.toSeq.map { f =>
        val raw = element_at(col("data"), f.name)
        val withEnum = m.enumColumns.get(f.name) match {
          case Some(labels) => graft.transform.EnumDecode.decode(raw, labels)
          case None => raw
        }
        Coercion.coerce(withEnum, f.dataType).as(f.name)
      }
      UpsertSink.applyRows(ordered.select(Seq(col("type")) ++ decoded: _*), withOp = true,
        schema.fieldNames.toSeq, m, connFactory, dialect)
    }
    try attempt(targetSchema)
    catch {
      case t: Throwable if heal.isDefined && UpsertSink.isSchemaMiss(t) =>
        heal.get.apply(t) // D4 schema sync, then replay once on the healed target
        attempt(SchemaProbe.probe(m, connFactory, dialect))
    }
  }

  /**
   * Batch-equivalent materialization of the stream (used for oracle
   * checks): fold a bounded Dml log into final per-table state.
   */
  def materialize(dmls: DataFrame, pkCols: Seq[String], payload: Seq[String]): DataFrame = {
    val flat = DmlTransforms.withOrderKey(
      DmlTransforms.flatten(dmls.withColumn("seq", col("es"))))
    val afterTrunc = CdcApply.afterLastTruncate(
      flat, Seq("database", "table"), col("order_key"), col("type"))
    val expanded = CdcApply.expandPkChanges(afterTrunc, pkCols)
    val projected = expanded.select(
      (Seq(col("type"), struct(col("order_key"), col("sub_seq")).as("ord")) ++
        pkCols.map(p => element_at(col("data"), p).as(p)) ++
        payload.map(p => element_at(col("data"), p).as(p))): _*)
    CdcApply.latestState(projected, pkCols, col("ord"), col("type"), payload)
  }
}
