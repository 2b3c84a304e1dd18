package graft.llm

import graft.functions.BpeExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: language ID
 * (stopword-hit heuristic), quality scoring (length/punctuation/stopword
 * ratios), token counting (whitespace + BPE-ish regex), and document
 * fingerprinting. All pure per-row expressions (codegen'd; zero shuffle) —
 * at 100 TB these run at scan speed.
 */
object TextAnalysis {

  /** Hash-spread a per-document table by its id BEFORE the token explode
    * (r15 optimization, guide §2.3 "project before the exchange" + §2.5
    * input splits): every per-doc lag-window pipeline needs one
    * hash(id) exchange anyway — paying it on the COMPACT doc rows instead
    * of the exploded token stream moves ~doc-length× fewer bytes through
    * the shuffle at every scale, and it parallelizes the tokenize/explode
    * kernel away from the scan's input split count (a small corpus arrives
    * as one parquet row group = one task; the heavy per-token work used to
    * serialize there). The explicit partition count (the session's shuffle
    * parallelism — the deployment dial, never a hard-coded core count)
    * keeps AQE from byte-coalescing the exchange under the compute-dense
    * token stages that follow. Generate/Project preserve hash(id), so the
    * downstream window/groupBy on id adds NO second exchange. */
  private[llm] def spreadByDoc(docs: DataFrame, id: Column): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    val parts = scala.util.Try(n.toInt).getOrElse(200)
    docs.repartition(parts, id)
  }

  /** [[spreadByDoc]] for kernel pipelines with NO downstream wide
    * exchange of their own (signature builds, sketch scans, hashed-feature
    * explodes), where the repartition ADDS an exchange rather than
    * narrowing an existing one — so it spreads only when the input scans
    * narrow. The decision DERIVES from the actual input layout. A
    * small/bench corpus arrives as one parquet row group (one scan task),
    * so without the spread the whole hash/sign kernel serializes onto one
    * core (guide §2.5: "one huge unsplittable file … repartition
    * immediately after the read") — it spreads. A production 100 TB
    * corpus arrives with ≥ cluster-parallelism input splits — the added
    * corpus-sized exchange buys nothing and it is SKIPPED, with no conf
    * to remember. The split count comes from the scan relations' file
    * metadata on the driver (never `df.rdd`, which forces eager AQE stage
    * materialization on computed inputs); inputs with no file-source
    * leaves (computed / local relations) spread — the call sites are
    * corpus-scale by construction. */
  private[llm] def spreadIfNarrow(docs: DataFrame, id: Column): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    val parts = scala.util.Try(n.toInt).getOrElse(200)
    if (estimatedScanSplits(docs).forall(_ < parts)) spreadByDoc(docs, id) else docs
  }

  /** Estimated input-split count of the file-source leaves under `docs`'
    * analyzed plan — driver-side file metadata only (the listing is
    * cached on the relation), no Spark job. `None` when any leaf is not
    * a file relation (computed or local input — nothing to derive from).
    * Per leaf the estimate is Spark's own packing LOWER bound:
    * `max(⌈bytes / maxPartitionBytes⌉, ⌈files · openCost /
    * maxPartitionBytes⌉)` — a corpus this bound already puts at ≥ the
    * session parallelism certainly scans wide and skips the spread. */
  private def estimatedScanSplits(docs: DataFrame): Option[Long] =
    scala.util.Try {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val perLeaf = docs.queryExecution.analyzed.collectLeaves().map {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            val sconf = fs.sparkSession.sessionState.conf
            val maxSplit = math.max(1L, sconf.filesMaxPartitionBytes)
            val openCost = math.max(0L, sconf.filesOpenCostInBytes)
            val bytes = fs.location.sizeInBytes
            val files = fs.location.inputFiles.length.toLong
            Some(math.max(
              math.max(1L, (bytes + maxSplit - 1) / maxSplit),
              (files * openCost + maxSplit - 1) / maxSplit))
          case _ => None
        }
        case _ => None
      }
      if (perLeaf.nonEmpty && perLeaf.forall(_.isDefined))
        Some(perLeaf.map(_.get).sum)
      else None
    }.toOption.flatten

  /** Largest type count [[kn5QuantModel]] accepts: past ~1.5·10¹² the
    * `2·ΣDₖµNₖ ≤ 6·10⁶·N` exact-integer quantization wraps a long; 10¹²
    * leaves headroom and fails LOUD instead of corrupting stored
    * probabilities. */
  val MaxQuantCount: Long = 1000000000000L

  /** Stopword marker lists per language for the n-gram/stopword heuristic.
    * Deterministic and tiny by design — a real pipeline would swap in
    * per-language frequency tables; the operator shape is identical. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "en"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "dans")
  )

  private def hitCount(ws: Column, list: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(list)))

  /** Per-language stopword-hit scores as columns `score_<lang>`. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val ws = split(text, " ")
    stopwords.map { case (lang, list) => lang -> hitCount(ws, list) }
  }

  /** Language ID: argmax of stopword hits with fixed priority tie-break
    * (en > de > es > fr — deterministic, engine-portable). */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val cols = scores.map(_._2)
    // first lang whose score >= every later lang's score wins (CASE chain)
    scores.zipWithIndex.init.foldRight(lit(scores.last._1): Column) {
      case (((lang, c), i), acc) =>
        when(cols.drop(i + 1).map(o => c >= o).reduce(_ && _), lit(lang)).otherwise(acc)
    }
  }

  /** Whitespace token count (`\S+` runs). */
  def tokenCountWs(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish token count: letter runs, single digits, single punctuation —
    * the standard pre-tokenizer shape (letters|digit|other). */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"))

  /** Quality features + composite score in [0,1]:
    * 0.5·min(words/100,1) + 0.3·stopword_ratio + 0.2·(1-punct_ratio). */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val wc = tokenCountWs(t)
    val cc = length(t)
    val punct = regexp_count(t, lit("[^A-Za-z0-9 ]"))
    val stop = hitCount(split(t, " "), stopwords.flatMap(_._2))
    df.select(
      col(idCol),
      cc.as("n_chars"),
      wc.as("n_words"),
      round(cc.cast("double") / wc, 4).as("avg_word_len"),
      punct.as("n_punct"),
      round(stop.cast("double") / wc, 4).as("stopword_ratio"),
      round(
        least(wc.cast("double") / 100.0, lit(1.0)) * 0.5 +
          (stop.cast("double") / wc) * 0.3 +
          (lit(1.0) - punct.cast("double") / cc) * 0.2, 4).as("quality"))
  }

  /** The Gopher rule-filter stopword list (Rae et al. 2021, Appendix A1.1):
    * a document must contain at least [[GopherMinStopHits]] of these. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /**
   * Gopher-style heuristic quality filter (Rae et al. 2021,
   * arXiv:2112.11446 Appendix A1.1 — the published rule set most
   * production pretraining pipelines start from). Emits the measured
   * features, one boolean per rule, and the conjunction `keep`:
   *
   *  - `f_words`:    50 ≤ word count ≤ 100,000
   *  - `f_word_len`: mean word length in [3, 10] characters
   *  - `f_symbol`:   (hash + ellipsis) to word ratio ≤ 0.1
   *  - `f_bullet`:   ≤ 90% of lines start with a bullet (`-` `*` `•`)
   *  - `f_ellipsis`: ≤ 30% of lines end with `...`
   *  - `f_alpha`:    ≥ 80% of words contain an alphabetic character
   *  - `f_stop`:     ≥ 2 hits from [[gopherStopwords]] (occurrence count,
   *                  not distinct — the common open implementation choice)
   *
   * Every feature is integer arithmetic over split words/lines followed by
   * one exact int/int division, so the unrounded flag comparisons are
   * bit-identical across engines (the SQL oracle replays them unrounded
   * too; only the *presentation* ratios are rounded). Pure per-row
   * expressions — zero shuffle, scan-speed at 100 TB.
   *
   * Words are `\s+`-tokenized (empty tokens dropped) — the paper's
   * whitespace tokenization, so newline/tab-separated words count
   * individually rather than fusing into one "word". A whitespace-only
   * document has `n_words = 0`; its ratios divide by `max(wc, 1)` (both
   * engines) so the row is deterministic rather than null/NaN — such a
   * doc fails `f_words` regardless.
   */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = filter(split(t, "\\s+"), w => length(w) > lit(0))
    val lines = split(t, "\n")
    val wc = size(ws)
    val wcDen = greatest(wc, lit(1))
    val sumWordLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
    val meanWordLen = sumWordLen.cast("double") / wcDen
    val symbols = regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))
    val symbolRatio = symbols.cast("double") / wcDen
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l =>
      startswith(ltrim(l), lit("-")) || startswith(ltrim(l), lit("*")) ||
        startswith(ltrim(l), lit("•"))))
    val ellipsisLines = size(filter(lines, l => endswith(rtrim(l), lit("..."))))
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]")))
    val alphaRatio = alphaWords.cast("double") / wcDen
    val stopHits = hitCount(ws, gopherStopwords)
    val fWords = wc >= 50 && wc <= 100000
    val fWordLen = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val fSymbol = symbolRatio <= 0.1
    val fBullet = bulletLines.cast("double") / nLines <= 0.9
    val fEllipsis = ellipsisLines.cast("double") / nLines <= 0.3
    val fAlpha = alphaRatio >= 0.8
    val fStop = stopHits >= GopherMinStopHits
    df.select(
      col(idCol),
      wc.cast("long").as("n_words"),
      round(meanWordLen, 4).as("mean_word_len"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(bulletLines.cast("double") / nLines, 4).as("bullet_ratio"),
      round(ellipsisLines.cast("double") / nLines, 4).as("ellipsis_ratio"),
      round(alphaRatio, 4).as("alpha_ratio"),
      stopHits.cast("long").as("stop_hits"),
      fWords.as("f_words"), fWordLen.as("f_word_len"), fSymbol.as("f_symbol"),
      fBullet.as("f_bullet"), fEllipsis.as("f_ellipsis"), fAlpha.as("f_alpha"),
      fStop.as("f_stop"),
      (fWords && fWordLen && fSymbol && fBullet && fEllipsis && fAlpha && fStop)
        .as("keep"))
  }

  /** Document fingerprints: md5 of whitespace/case-normalized text plus a
    * 60-bit integer form (rolling-hash stand-in; engine-portable). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    df.select(col(idCol),
      md5(norm).as("fp_md5"),
      TextHashing.md5Long60(norm).as("fp_60"))
  }

  /**
   * Deterministic stratified sampling: keep a row iff its content-hash
   * bucket falls under the stratum's percentage. Hash-based (not RNG-based)
   * sampling is reproducible across runs, engines, and resumed 100 TB jobs,
   * and needs no per-partition RNG state; per-row expression, no shuffle.
   * `rates`: stratum → keep percentage (missing strata default to
   * `defaultPct`).
   */
  def sampleStratified(df: DataFrame, textCol: String, stratumCol: Column,
                       rates: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    val rateExpr = rates.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(stratumCol === k, lit(v)).otherwise(acc)
    }
    df.withColumn("bucket", pmod(TextHashing.md5Long60(col(textCol)), lit(100L)))
      .withColumn("keep_pct", rateExpr.cast("long"))
      .where(col("bucket") < col("keep_pct"))
  }

  /**
   * Global training-order shuffle as hash sharding: every document gets a
   * shard (`hash % nShards`) and a position within that shard (rank by
   * hash). Reading shards in order yields a corpus-wide pseudo-random
   * permutation — the "shuffle before training" step — without a global
   * sort, without RNG state (deterministic and resumable), and with
   * hash-balanced shard sizes. At 100 TB the plan is one exchange keyed on
   * shard_id plus a per-shard local sort (spill-friendly); choose nShards
   * so corpus/nShards fits a task's sort comfortably. A writer follows
   * with `partitionBy(shard_id)`.
   */
  def shuffleShards(df: DataFrame, idCol: String, textCol: String,
                    nShards: Int): DataFrame = {
    val h = df.select(col(idCol),
      TextHashing.md5Long60(col(textCol)).as("hkey"))
      .withColumn("shard_id", pmod(col("hkey"), lit(nShards.toLong)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard_id").orderBy(col("hkey"), col(idCol))
    h.withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard_id"), col("pos"))
  }

  /**
   * Domain-mixture sampling with upsampling: each document is replicated
   * `floor(w)` times and kept for one extra epoch with probability
   * `frac(w)`, where `w` is its mixture key's weight (the Pile/DoReMi
   * domain-reweighting shape; [[sampleStratified]] is the downsample-only
   * special case). The fractional keep is a deterministic content-hash
   * Bernoulli — no RNG state, so the sample is resumable, engine-portable,
   * and a re-run at 100 TB reproduces it row-for-row. Pure per-row
   * expression + explode: zero shuffle, scan speed. Weights must be
   * non-negative; a key absent from `weights` gets weight 0 (dropped).
   * Weight fractions should be exactly representable in binary (quarters,
   * eighths, …) so `floor(frac·10⁶)` agrees across engines.
   */
  def mixtureSample(df: DataFrame, idCol: String, textCol: String,
                    keyCol: String, weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(_ >= 0.0), "mixture weights must be >= 0")
    val wt = coalesce(element_at(typedLit(weights), col(keyCol)), lit(0.0))
    val bucket = pmod(TextHashing.md5Long60(col(textCol)), lit(1000000L))
    val nEpochs = floor(wt).cast("long") +
      when(bucket < floor((wt - floor(wt)) * 1000000.0).cast("long"), 1L)
        .otherwise(0L)
    df.select(col(idCol), col(keyCol).as("mix_key"), nEpochs.as("n_epochs"))
      .where(col("n_epochs") > 0)
      .select(col(idCol), col("mix_key"),
        explode(sequence(lit(0L), col("n_epochs") - 1)).as("epoch"))
  }

  /**
   * Temperature-weighted source mixing (the mT5/XLM-R α-sampling rule):
   * sources are sampled with probability `p_s = n_s^α / Σ_t n_t^α` —
   * α=1 keeps natural proportions, α→0 flattens toward uniform, lifting
   * low-resource sources. A doc budget `n` is apportioned to sources by
   * LARGEST-REMAINDER over the 6-dp-scaled integer quotas (floor every
   * source's `n·p_s`, then hand the leftover seats to the largest
   * fractional parts, ties to the lexicographically smaller source) —
   * integer arithmetic end-to-end after one round, so both engines
   * allocate identical quotas. Each source then admits its quota in
   * deterministic content-hash priority order (the [[budgetMix]] rule).
   * A quota can exceed a small source's population (that is α-sampling's
   * point); the op emits what exists and reports `quota` beside `pos` so
   * callers see the deficit and can route to [[mixtureSample]] for
   * epoch-level upsampling. Plan: one tiny per-source count agg (S rows,
   * broadcast back), one window per source partition — no global sort.
   */
  def temperatureMix(docs: DataFrame, idCol: String, textCol: String,
                     sourceCol: String, alpha: Double, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotas = alphaQuotas(docs, sourceCol, alpha, n)
    val admitW = Window.partitionBy("source").orderBy(col("pri"), col("id"))
    docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
        coalesce(md5(col(textCol)), lit("<null-text>")).as("pri"))
      .withColumn("pos", row_number().over(admitW).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .where(col("pos") <= col("quota"))
      .select(col("id").as(idCol), col("source"), col("pos"), col("quota"))
  }

  /** The α-sampling quota table `(source, n_s, quota)` shared by
    * [[temperatureMix]] and [[temperatureMixRanged]]: per-source counts
    * are a bounded control-plane pull (S = the distinct source alphabet);
    * apportionment runs driver-side in exact integer arithmetic —
    * ranking S rows through a cluster window would plan an unpartitioned
    * WindowExec and train readers to ignore that warning. */
  private def alphaQuotas(docs: DataFrame, sourceCol: String,
                          alpha: Double, n: Int): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    require(n > 0, s"budget must be positive, got $n")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts0 = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_s"))
      .as[(String, Long)].collect()
    require(counts0.forall(_._1 != null),
      s"temperatureMix: null $sourceCol — sources must be non-null keys " +
        "(a silent null group would take quota from every real source)")
    val counts = counts0.sortBy(_._1)
    val z = counts.map { case (_, ns) => math.pow(ns.toDouble, alpha) }.sum
    // 6-dp-scaled integer quotas: fr6 = round(n·p_s·10⁶), then floor /
    // remainder / leftover seats are all integer-exact (HALF_UP matches
    // the SQL replay's round(x, 0))
    val fr6 = counts.map { case (s, ns) =>
      (s, ns, math.round(math.pow(ns.toDouble, alpha) / z * n * 1e6)) }
    val extra = n.toLong - fr6.map(_._3 / 1000000L).sum
    // extra < 0 would need Σ floor(fr6/10⁶) > n, i.e. Σ fr6 > n·10⁶ by a
    // full seat; each fr6 overshoots its true share by < 0.5, so the sum
    // overshoots by < S/2·10⁻⁶ seats — impossible below S = 2·10⁶ sources,
    // which is far past the driver-side alphabet bound this collect
    // already assumes. Fail loud rather than silently over-emit the
    // budget if that assumption is ever violated.
    require(extra >= 0L,
      s"largest-remainder deficit (extra = $extra) — source alphabet too " +
        "large for exact 6-dp apportionment")
    val seats = fr6.map { case (s, _, f) => (s, f % 1000000L) }
      .sortBy { case (s, frac) => (-frac, s) }
      .take(extra.toInt).map(_._1).toSet
    fr6.map { case (s, ns, f) =>
      (s, ns, f / 1000000L + (if (seats.contains(s)) 1L else 0L)) }
      .toSeq.toDF("source", "n_s", "quota")
  }

  /** Corpus n-gram frequencies (all occurrences, not per-doc deduped):
    * per-row gram expansion → one hash-agg shuffle with map-side combine.
    * Feeds stop-shingle lists for the PPJoin prefix filter and
    * heavy-hitter corpus statistics; at 100 TB the shuffle carries only
    * (gram, partial count) pairs. */
  def ngramFrequencies(df: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // typed JIT gram expansion (bit-identical to the wordNgrams expression;
    // the interpreted higher-order-function form costs ~0.5 ms/row)
    df.select(col(textCol)).as[String]
      .flatMap(t => if (t == null) Iterator.empty
        else TextHashing.wordNgramsKernel(t, n).iterator)
      .toDF("ngram")
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
  }

  /**
   * Benchmark decontamination: flag training documents that share any
   * distinct word `n`-gram with the evaluation set (the GPT-3-style
   * n-gram-overlap test — at real scale n is 8–13 so random collisions
   * vanish and only genuine leakage matches). Plan shape for 100 TB: the
   * eval set's distinct grams are TINY relative to the train corpus
   * (benchmarks are thousands of docs, training sets billions), so they
   * broadcast — the train side never shuffles, each scan task probes the
   * broadcast gram set and only per-doc overlap counts reach the one small
   * aggregation.
   *
   * The broadcast carries 60-bit gram HASHES ([[TextHashing.md5Long60Kernel]]),
   * not gram strings: a real eval suite has millions of distinct grams at
   * ~40 bytes each, which strains the driver/executor broadcast budget,
   * while the hashed set is 8 bytes per gram (~10× smaller, and a long-keyed
   * broadcast hash join probes faster than a string-keyed one). Correctness
   * cost: a false overlap needs an md5-60 collision between a train gram and
   * an eval gram — for G distinct grams corpus-wide the probability of ANY
   * collision is ≤ G²·2⁻⁶¹ (birthday bound), ~10⁻⁶ even at G = 10⁹ — and a
   * within-doc collision can at most understate `n_overlap` by 1, never
   * clear a genuinely contaminated flag. `hashGrams = false` keeps the
   * string-keyed path; LlmSpec property-tests both paths equal.
   */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 5,
                    hashGrams: Boolean = true): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    // gram expansion through the typed JIT kernel (bit-identical to the
    // wordShingles expression, see TextHashing) — the interpreted
    // higher-order-function form costs ~1 ms/row and dominates the operator
    def grams(df: DataFrame): DataFrame = {
      val src = df
        .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
        .as[(Long, String)]
      // null text yields no grams — same as the expression form and the
      // oracle (unnest of a NULL list produces no rows)
      if (hashGrams)
        src.flatMap { case (id, t) =>
          if (t == null) Iterator.empty
          else TextHashing.wordShinglesKernel(t, n).iterator
            .map(g => (id, TextHashing.md5Long60Kernel(g)))
        }.toDF("id", "g")
      else
        src.flatMap { case (id, t) =>
          if (t == null) Iterator.empty
          else TextHashing.wordShinglesKernel(t, n).iterator.map(g => (id, g))
        }.toDF("id", "g")
    }
    val evalGrams = grams(evalDocs).select(col("g")).distinct()
    // wordShingles is per-doc distinct, so count(*) is the distinct-overlap count
    val hits = grams(train).join(broadcast(evalGrams), "g")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
      .withColumnRenamed("id", idCol)
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /**
   * PII scrubbing (training-data redaction staple): replace email
   * addresses and IPv4 literals with typed placeholder tokens and count
   * the hits per document. Pure per-row codegen regex
   * (`regexp_replace`/`regexp_count`) — no shuffle, scan-speed at 100 TB
   * like the other per-row text ops. Patterns are RE2-compatible (no
   * backreferences/lookaround) so SQL engines replay them identically;
   * emails are redacted before IPs so a dotted quad inside a hostname is
   * consumed by the email token, not double-redacted.
   *
   * Count semantics: `n_email`/`n_ip` are RAW-TEXT match counts (what the
   * SQL oracle counts), not placeholder-token counts — because redaction
   * is sequential, a dotted quad inside an email hostname (`user@1.2.3.4`)
   * increments `n_ip` yet leaves no `<IP>` token in `scrubbed`. The IP
   * pattern is also deliberately permissive (octets > 255 and substrings
   * of longer dotted runs match): for redaction, over-matching is the safe
   * direction, and boundary anchoring needs lookaround (not RE2-portable).
   */
  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    df.select(col(idCol),
      regexp_replace(regexp_replace(col(textCol), email, "<EMAIL>"),
        ip, "<IP>").as("scrubbed"),
      regexp_count(col(textCol), lit(email)).cast("long").as("n_email"),
      regexp_count(col(textCol), lit(ip)).cast("long").as("n_ip"))
  }

  /**
   * C4-style line-level boilerplate filter (Raffel et al. 2020 §2.2, the
   * "Colossal Clean Crawled Corpus" rules): keep a LINE iff it ends in
   * terminal punctuation (`. ! ? "` or `'`), has ≥ `minWordsPerLine`
   * whitespace words, and does not mention "javascript"; drop the whole
   * PAGE iff it contains "lorem ipsum" or a curly brace (code), or fewer
   * than `minKeptLines` lines survive (C4's ≥-3-sentences proxy).
   * Output per doc: line counts, the page-poison flags, the composed
   * `keep` verdict, and `text_clean` — the kept lines rejoined (null for
   * a dropped page, matching C4 discarding it).
   *
   * Pure per-row array expressions (one `split` + `filter` + flags) —
   * zero shuffle, scan-speed at 100 TB; patterns are RE2-portable so the
   * SQL replay is exact.
   */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
                   minWordsPerLine: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    def lineKept(l: Column): Column = {
      val s = trim(l)
      val wc = size(filter(split(s, " "), w => length(w) > lit(0)))
      s.rlike("[.!?\"']$") && wc >= lit(minWordsPerLine) &&
        !lower(s).contains("javascript")
    }
    val kept = filter(lines, lineKept _)
    val nLines = size(lines)
    val nKept = size(kept)
    val hasLorem = lower(t).contains("lorem ipsum")
    val hasBrace = t.contains("{")
    val keep = !hasLorem && !hasBrace && nKept >= lit(minKeptLines)
    df.select(col(idCol),
      nLines.cast("long").as("n_lines"),
      nKept.cast("long").as("n_kept"),
      round(nKept.cast("double") / greatest(nLines, lit(1)), 4).as("kept_ratio"),
      hasLorem.as("has_lorem"), hasBrace.as("has_brace"), keep.as("keep"),
      when(keep, concat_ws("\n", kept)).as("text_clean"))
  }

  /**
   * URL canonicalization (the web-curation staple ahead of URL dedup and
   * per-domain caps — C4/RefinedWeb lineage): lowercase; strip the
   * `#fragment`, the scheme, and a leading `www.`; drop tracking query
   * params (`utm_*`, `ref=…`) while keeping the rest; trim a trailing
   * slash. Emits `(…, url_norm, host, domain)` where `domain` is the
   * last two host labels (registered-domain proxy; a public-suffix list
   * is a lookup-table extension, not a plan change). Pure per-row regex +
   * array expressions — zero shuffle; RE2-portable so SQL replays match.
   */
  def urlNormalize(df: DataFrame, urlCol: String): DataFrame = {
    val noFrag = regexp_replace(lower(col(urlCol)), "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^https?://", "")
    val bare = regexp_replace(noScheme, "^www\\.", "")
    val path = regexp_replace(regexp_replace(bare, "\\?.*$", ""), "/$", "")
    val query = regexp_extract(bare, "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p =>
      length(p) > lit(0) && !p.startsWith("utm_") && !p.rlike("^ref="))
    val norm = concat(path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
    val host = regexp_extract(bare, "^([^/?]+)", 1)
    df.withColumn("url_norm", norm)
      .withColumn("host", host)
      .withColumn("domain", regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
  }

  /**
   * Per-domain document cap (RefinedWeb-style domain balancing): admit at
   * most `cap` docs per registered domain, in the registry's standard
   * deterministic content-hash priority order (no RNG state, reproducible
   * across resumed 100 TB runs). Unlike the source/language admission
   * family, the window key here is the DOMAIN — a web corpus has millions
   * of them and the cap bounds what anyone keeps per key, so the per-key
   * window is the right shape at scale (the giant-key escape hatch, if a
   * single domain ever dominated, is the same threshold-cut rewrite the
   * budget/tercile twins use).
   */
  def domainCap(docs: DataFrame, idCol: String, textCol: String,
                domainCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pri = coalesce(md5(col(textCol)), lit("<null-text>"))
    val w = Window.partitionBy(domainCol).orderBy(col("pri"), col(idCol))
    docs.withColumn("pri", pri)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col(idCol), col(domainCol), col("rk"),
        (col("rk") <= cap).as("keep"))
  }

  /** Within-document repetition signals (Gopher-style quality filters):
    * fraction of duplicated words / 2-grams / 3-grams, each
    * `1 - distinct/total`; docs shorter than the gram width score 0.
    * Per-row work in one typed JIT kernel (split once, three hash-set
    * distinct counts) — the array-expression form runs interpreted
    * higher-order functions at ~1 ms/row; rounding is the HALF_UP replica
    * of Spark/DuckDB `round(x, 6)` so all paths agree bit-for-bit. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        // null text scores 0 everywhere — parity with the expression form
        // (size(null)=-1 fails the total>0 guard) and the SQL CASE
        val ws = if (t == null) Array.empty[String] else t.split(" ", -1)
        def ratio(n: Int): Double = {
          val grams = TextHashing.wordNgramsKernel(ws, n)
          if (grams.isEmpty) 0.0
          else Similarity.roundHalfUp(
            1.0 - grams.toSet.size.toDouble / grams.length, 6)
        }
        (id, ratio(1), ratio(2), ratio(3))
      }
      .toDF(idCol, "rep_word", "rep_2gram", "rep_3gram")
  }

  /** Character-level Shannon entropy — the gibberish/binary detector of
    * classic quality stacks (low entropy = repeated-char runs, high ≈
    * log2(alphabet) = encoded/binary payloads), used beside the word-level
    * Gopher rules. `H = log2(n) − (Σ_c round₆(cnt_c·log2(cnt_c)))/n` over
    * code points: each distinct character's term is rounded to 6 dp and
    * summed as a scaled long (the [[bm25]] integer-scaling argument), so
    * the reduction is order-independent and DuckDB replays it bit-for-bit
    * as a DECIMAL sum. One typed JIT kernel per row (single code-point
    * scan, open-address count map) — zero shuffle, scales linearly. Null
    * and empty texts score entropy 0 over 0 characters. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        if (t == null || t.isEmpty) (id, 0L, 0L, 0.0)
        else {
          val cps = t.codePoints().toArray
          val counts = new java.util.HashMap[Int, Long]()
          var i = 0
          while (i < cps.length) { counts.merge(cps(i), 1L, _ + _); i += 1 }
          var scaled = 0L
          val it = counts.values().iterator()
          while (it.hasNext) {
            val c = it.next()
            scaled += math.round(Similarity.roundHalfUp(
              c * (math.log(c.toDouble) / math.log(2.0)), 6) * 1e6)
          }
          val n = cps.length.toLong
          val h = Similarity.roundHalfUp(
            math.log(n.toDouble) / math.log(2.0) - (scaled / 1e6) / n, 6)
          (id, n, counts.size.toLong, h)
        }
      }
      .toDF(idCol, "n_cp", "n_distinct_cp", "char_entropy")
  }

  /**
   * Sequence packing for training (concat-then-split): documents are laid
   * out in deterministic `idCol` order within each `partitionCol` stream and
   * split into fixed `budget`-token context windows; each document is
   * labeled with its running `start_offset` and the `chunk_id` its first
   * token lands in. One running-sum window per stream — at 100 TB packing
   * runs per shard (`partitionCol` = source/shard), so no global sort or
   * single-partition window exists in the plan.
   */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, partitionCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partitionCol)).orderBy(col(idCol))
    df.select(col(idCol), col(partitionCol),
        tokenCountWs(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        (sum(col("n_tokens")).over(w) - col("n_tokens")).cast("long"))
      .withColumn("chunk_id", floor(col("start_offset") / lit(budget.toDouble)))
  }

  /**
   * The PACKED artifact a trainer consumes: [[packSequences]]' layout
   * materialized as per-chunk document spans — one row per (chunk, doc
   * slice) with `token_start`/`token_end` (doc-relative, end exclusive),
   * INCLUDING budget-boundary splits: a document straddling chunk
   * boundaries emits one span per chunk it touches (explode of its chunk
   * range), so every chunk's spans sum to exactly `budget` tokens except
   * each stream's tail. Token-less docs occupy no stream positions and
   * emit nothing.
   *
   * Same plan shape as the labeling pass — one running-sum window per
   * `partitionCol` stream plus a generator — no global sort, no extra
   * shuffle at any scale.
   */
  def packEmit(df: DataFrame, idCol: String, textCol: String,
               budget: Int, partitionCol: String): DataFrame = {
    val b = lit(budget.toLong)
    packSequences(df, idCol, textCol, budget, partitionCol)
      .drop("chunk_id")
      .where(col("n_tokens") > 0)
      .withColumn("chunk_id", explode(sequence(
        floor(col("start_offset") / lit(budget.toDouble)),
        floor((col("start_offset") + col("n_tokens") - 1) / lit(budget.toDouble)))))
      .select(col(partitionCol), col("chunk_id"), col(idCol),
        greatest(lit(0L), col("chunk_id") * b - col("start_offset"))
          .cast("long").as("token_start"),
        least(col("n_tokens"), (col("chunk_id") + 1) * b - col("start_offset"))
          .cast("long").as("token_end"))
  }

  /**
   * Doc-boundary bin packing — first-fit-decreasing (FFD), the
   * whole-document alternative to [[packEmit]]'s concat-split layout:
   * documents are bin-packed INTO `budget`-token bins without splitting,
   * so training sequences keep document boundaries (no attention across
   * unrelated concatenated docs); only documents LONGER than the budget
   * split — their full `budget`-token chunks occupy dedicated bins and
   * the tail re-enters the pack as a regular item.
   *
   * Deterministic FFD per `partitionCol` shard: items (whole docs ∪
   * oversized tails) sort by `(size DESC, id)` and each takes the FIRST
   * bin with enough remaining capacity, else opens a new bin — the
   * classic 11/9·OPT+1 guarantee. Sequential by nature, so the plan is
   * one hash exchange on the shard + a per-partition external sort + a
   * linear stateful pass (`mapPartitions`) — shards pack in parallel, no
   * global sort, no single-partition stage (same scale contract as
   * [[packSequences]]; the per-shard bin-remainder array is
   * bins-per-shard-sized — swap the linear first-fit scan for a
   * segment tree when bins-per-shard reaches millions). Dedicated
   * oversized-chunk bins number AFTER the shard's FFD bins, ordered by
   * `(id, chunk)`. Output: `(partitionCol, bin_id, idCol, token_start,
   * token_end, whole_doc)`; token-less docs emit nothing.
   */
  def packBinsFfd(df: DataFrame, idCol: String, textCol: String,
                  budget: Int, partitionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val b = budget.toLong
    val t = df.select(col(partitionCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"),
        tokenCountWs(col(textCol)).cast("long").as("n"))
      .where(col("n") > 0)
    val items = t.where(col("n") <= b)
      .select(col("shard"), col("id"), col("n").as("sz"), lit(0L).as("ts"))
      .unionByName(t.where(col("n") > b && col("n") % b > 0)
        .select(col("shard"), col("id"), (col("n") % b).as("sz"),
          (col("n") - col("n") % b).as("ts")))
    val ffd = items.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("sz").desc, col("id"))
      .as[(String, Long, Long, Long)]
      .mapPartitions { it =>
        // shards are contiguous after the sort; state resets per shard
        var cur: String = null
        var rems = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.map { case (shard, id, sz, ts) =>
          if (shard != cur) { cur = shard; rems = scala.collection.mutable.ArrayBuffer.empty[Long] }
          val idx = rems.indexWhere(_ >= sz)
          val bin =
            if (idx >= 0) { rems(idx) -= sz; (idx + 1).toLong }
            else { rems += (b - sz); rems.length.toLong }
          (shard, bin, id, ts, ts + sz)
        }
      }
      .toDF("shard", "bin_id", "id", "token_start", "token_end")
    // dedicated bins number AFTER the shard's item COUNT — an upper bound
    // on the FFD bin count that needs only a cheap aggregation, not a
    // second run of the sequential FFD pass (bin ids are labels; gaps
    // between the last FFD bin and the first dedicated bin are harmless)
    val k = items.groupBy("shard").agg(count(lit(1)).as("k"))
    val dedicated = t.where(col("n") > b)
      .withColumn("c", explode(sequence(lit(0L), (col("n") / b).cast("long") - 1)))
      .join(k, Seq("shard"), "left")
      .withColumn("bin_id", coalesce(col("k"), lit(0L)) +
        row_number().over(Window.partitionBy("shard").orderBy("id", "c")))
      .select(col("shard"), col("bin_id"), col("id"),
        (col("c") * b).as("token_start"), ((col("c") + 1) * b).as("token_end"))
    ffd.unionByName(dedicated)
      .join(t, Seq("shard", "id"))
      .select(col("shard").as(partitionCol), col("bin_id"), col("id").as(idCol),
        col("token_start"), col("token_end"),
        (col("token_start") === 0L && col("token_end") === col("n")).as("whole_doc"))
  }

  /**
   * Unigram language-model scoring — the perplexity-PROXY quality filter
   * (the KenLM-filter shape from CCNet/RedPajama pipelines, with the
   * n-gram model reduced to its unigram term so the statistic is exactly
   * replayable in SQL): train `p(w) = count(w) / total` on the corpus
   * itself in one map-side-combined aggregation, then score every
   * document by its total negative log-likelihood
   * (`nll_sum = −Σ_w tf_dw · ln p(w)`, nats; divide by `n_words` for the
   * per-word mean — low mean = stereotypical text, high = rare-word-heavy
   * or noise; filter by either tail). The SUM is the emitted statistic
   * deliberately: it is an exact 6-dp decimal (see below), where a mean
   * would put the final rounding on a division boundary. A real pipeline
   * swaps the broadcast unigram table for its KenLM scores; the operator
   * shape — train-once, broadcast, score-at-scan-speed — is identical.
   *
   * 100 TB shape: the vocabulary aggregation is partial-aggregable (one
   * shuffle of (word, count) — vocab-sized, not corpus-sized); the scored
   * side shuffles (id, dl, word) once for per-doc tf and joins the vocab
   * BROADCAST (a real-text vocabulary is millions of rows ≈ tens of MB —
   * still broadcast range; beyond that Catalyst falls back to a
   * shuffle join on the same plan). Determinism: each distinct word's
   * `ln p` is rounded to 6 dp BEFORE the tf-weighted sum, so the
   * per-doc reduction is order-independent across engines (the same
   * integer-scaled argument as [[bm25]]).
   */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    lmScoreFromModel(docs, idCol, textCol, lmModel(docs, textCol))

  /** The unigram model table `(word, cnt)` [[lmScore]] trains — the
    * artifact a store keeps ([[graft.queries.Materialized.lmUnigrams]])
    * so scoring runs never re-aggregate the corpus. */
  def lmModel(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("double").as("cnt"))

  /** [[lmScore]] against a TRAINED unigram model: per-doc negative
    * log-likelihood under the model's ML estimates. Words absent from the
    * model drop out of the sum (smoothing is the caller's policy) but
    * never out of the OUTPUT: every input doc gets a row — a doc whose
    * words are ALL out-of-model scores `nll_sum = 0` rather than
    * silently vanishing from the per-doc table (a downstream perplexity
    * gate must see it to judge it). On the training corpus itself this
    * is exact equality with [[lmScore]]. The model broadcasts
    * (vocabulary-sized); scoring is one tf aggregation + broadcast join
    * per run. */
  def lmScoreFromModel(docs: DataFrame, idCol: String, textCol: String,
                       model: DataFrame): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"), size(col("ws")).cast("double").as("dl"),
        explode(col("ws")).as("word"))
    val vocab = model.select(col("word"), col("cnt").cast("double").as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val tf = toks.groupBy("id", "dl", "word")
      .agg(count(lit(1)).cast("double").as("tf"))
    val nll = tf.join(broadcast(vocab), Seq("word"))
      .crossJoin(broadcast(total))
      .withColumn("lp", round(log(col("cnt") / col("total")), 6))
      .groupBy("id", "dl")
      .agg(round(-sum(col("tf") * col("lp")), 6).as("nll_sum"))
    toks.select(col("id"), col("dl")).distinct()
      .join(nll, Seq("id", "dl"), "left")
      .select(col("id").as(idCol), col("dl").cast("long").as("n_words"),
        coalesce(col("nll_sum"), lit(0.0)).as("nll_sum"))
  }

  /**
   * Interpolated BIGRAM LM scoring — the step from [[lmScore]]'s unigram
   * toward CCNet's KenLM shape: per doc,
   * `nll = −( ln p_uni(w₁) + Σ ln(λ·p_bi(wᵢ|wᵢ₋₁) + (1−λ)·p_uni(wᵢ)) )`
   * with `p_bi = c(prev,w)/c_ctx(prev)` over observed bigram types and
   * `c_ctx(prev) = Σ_w c(prev,w)` (bigram-start mass, so doc-final
   * occurrences never deflate the context). λ defaults to 0.75 — chosen
   * exactly representable in binary so `1−λ` is the same literal in both
   * engines. Per-type `ln` is 6-dp rounded before the tf-weighted doc
   * sum (the [[lmScore]] convention).
   *
   * 100 TB shape: unigram/context tables are vocab-bounded broadcasts
   * (the [[lmScoreFromModel]] precedent); the bigram TYPE table is
   * corpus-vocab²-bounded and stays a hash join on `(prev, w)` — never
   * broadcast; the only windows are per-doc (`lag` over positions,
   * bounded by document length). Docs with one word score the unigram
   * term alone; null-text docs have no tokens and (like [[lmScore]]'s
   * oracle twin) emit no row.
   */
  def lmScoreBigram(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.75): DataFrame =
    lmBigramFamily(docs, idCol, textCol) { (ty, uni, total) =>
      val ctx = ty.groupBy("pw").agg(sum(col("cb")).as("cc"))
      ty.join(broadcast(ctx), "pw")
        .join(broadcast(uni), "w")
        .crossJoin(broadcast(total))
        .withColumn("lp", round(log(lit(lambda) * col("cb") / col("cc") +
          lit(1.0 - lambda) * col("cu") / col("t")), 6))
    }

  /**
   * Shared bigram-LM scaffolding: tokenize, count unigrams/pairs, build
   * the bigram TYPE table, score it through `typeLp` (the ONE thing the
   * smoothings differ in — it receives `(ty(pw, w, cb), uni(w, cu),
   * total(t))` and must yield rows with `pw`, `w`, `lp`), then assemble
   * the per-doc NLL: first word at the ML unigram, the tf-weighted
   * 6-dp-rounded type sum for the rest. Context masses derive from the
   * type table (`Σ_w cb` per `pw` = the pair count — exact integer
   * doubles either way), so no smoothing pays a second corpus pass.
   * Scale shape shared too: vocab-bounded broadcasts, the type table a
   * hash join, per-doc `lag` windows only.
   */
  private def lmBigramFamily(docs: DataFrame, idCol: String, textCol: String)
      (typeLp: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    // NOTE on model-side reuse (r16): `ty`/`uni` end in hash aggregations,
    // i.e. exchange boundaries — the multiple smoothing references reuse
    // ONE materialized exchange at runtime (AQE ReusedExchange), so the
    // corpus token scan + lag window behind them run once, not once per
    // reference. Explicit materialization was A/B-measured and rejected
    // both ways: persist-based materializeAndRelease plan-matches across
    // bench runs (the forbidden result-caching shape r15 reverted on the
    // classifier), and localCheckpoint's eager jobs cost more than the
    // re-aggregations they save (bigram 1.52 → 1.76 s).
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("double").as("cu"))
    val total = uni.agg(sum(col("cu")).as("t"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val pairs = toks.withColumn("pw", lag(col("w"), 1).over(byDoc))
      .where(col("pw").isNotNull)
      .select(col("id"), col("pw"), col("w"))
    val ty = pairs.groupBy("pw", "w").agg(count(lit(1)).cast("double").as("cb"))
    val lp = typeLp(ty, uni, total).select(col("pw"), col("w"), col("lp"))
    val biPart = pairs.groupBy("id", "pw", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
      .join(lp, Seq("pw", "w"))
      .groupBy("id").agg(sum(col("tf") * col("lp")).as("bi_lp"),
        sum(col("tf")).cast("long").as("n_bigrams"))
    // r16: n_words and the doc-initial word come from ONE toks
    // aggregation (was two scans — a per-doc count plus a pos=0
    // filter+join); exactly one pos-0 row exists per doc, so the
    // conditional max IS that word, and the unigram join/arithmetic are
    // unchanged.
    val perDoc = toks.groupBy("id").agg(
      count(lit(1)).cast("long").as("n_words"),
      max(when(col("pos") === 0, col("w"))).as("w0"))
    perDoc
      .join(broadcast(uni.select(col("w").as("w0"), col("cu"))), "w0")
      .crossJoin(broadcast(total))
      .join(biPart, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_words"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-(round(log(col("cu") / col("t")), 6) +
          coalesce(col("bi_lp"), lit(0.0))), 6).as("nll_sum"))
  }

  /**
   * Kneser–Ney bigram LM scoring (Kneser & Ney 1995; the interpolated
   * form of Chen & Goodman 1998) — the smoothing KenLM/CCNet actually
   * ship, stepping past [[lmScoreBigram]]'s ML interpolation: per bigram
   * type,
   * `p(w|pw) = max(c(pw,w)−D, 0)/c(pw·) + D·N₁₊(pw·)/c(pw·) · P_cont(w)`
   * with `P_cont(w) = N₁₊(·w)/N₁₊(··)` — the continuation probability
   * that makes "Francisco" cheap after anything but "San". `D = 0.75`
   * (exactly representable in binary, same literal in both engines).
   * First word scores the ML unigram (the [[lmScoreBigram]] convention);
   * per-type `ln` is 6-dp rounded before the tf-weighted doc sum.
   *
   * 100 TB shape: identical to [[lmScoreBigram]] — the three smoothing
   * count tables (context totals + distinct-follower counts, distinct-
   * predecessor counts, the type-count scalar) are all vocab-bounded
   * broadcasts; the bigram TYPE table stays a hash join on `(pw, w)`;
   * the only windows are per-doc `lag` over positions.
   */
  def lmScoreKneserNey(docs: DataFrame, idCol: String, textCol: String,
                       discount: Double = 0.75): DataFrame =
    lmBigramFamily(docs, idCol, textCol)(
      (ty, _, _) => knLpFromTypes(ty, discount))

  /** The KN per-type log-prob table from a bigram TYPE table: context
    * mass + distinct-follower count per history, distinct-predecessor
    * count per word, total type count — all derived from the type table,
    * so no second corpus pass. */
  private def knLpFromTypes(ty: DataFrame, discount: Double): DataFrame = {
    val ctx = ty.groupBy("pw").agg(sum(col("cb")).as("cc"),
      count(lit(1)).cast("double").as("n1f"))
    val cont = ty.groupBy("w").agg(count(lit(1)).cast("double").as("nctx"))
    val ntypes = ty.agg(count(lit(1)).cast("double").as("tt"))
    ty.join(broadcast(ctx), "pw").join(broadcast(cont), "w")
      .crossJoin(broadcast(ntypes))
      .withColumn("lp", round(log(
        greatest(col("cb") - lit(discount), lit(0.0)) / col("cc") +
          lit(discount) * col("n1f") / col("cc") * (col("nctx") / col("tt"))), 6))
  }

  /** The trained KN type table `(pw, w, lp)` — the artifact a store keeps
    * ([[graft.queries.Materialized.knTypes]]) so scoring runs replay the
    * smoothed table instead of re-deriving the four count tables. */
  def knTypeTable(docs: DataFrame, idCol: String, textCol: String,
                  discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val pairs = toks.withColumn("pw", lag(col("w"), 1).over(byDoc))
      .where(col("pw").isNotNull)
    val ty = pairs.groupBy("pw", "w").agg(count(lit(1)).cast("double").as("cb"))
    knLpFromTypes(ty, discount).select(col("pw"), col("w"), col("lp"))
  }

  /** [[lmScoreKneserNey]] against a STORED type table — training paid
    * once per (corpus, discount); scoring reuses [[lmBigramFamily]]'s
    * assembly with the stored `(pw, w, lp)` rows (the live type subtree
    * is never referenced, so Catalyst plans only the tf/unigram scans).
    * On the training corpus this is row-identical to the live twin. */
  def lmScoreKneserNeyFromModel(docs: DataFrame, idCol: String,
                                textCol: String, lpTable: DataFrame): DataFrame =
    lmBigramFamily(docs, idCol, textCol)((_, _, _) =>
      lpTable.select(col("pw"), col("w"), col("lp")))

  /**
   * Stupid Backoff trigram scoring (Brants et al. 2007, "Large Language
   * Models in Machine Translation" — the score Google built FOR
   * MapReduce-scale corpora: relative frequencies with a fixed backoff
   * factor α, no discounting, no normalization). Trained on `train`,
   * scored on `docs` — a HELD-OUT split, so the backoff chain is actually
   * exercised:
   *
   *  - pos ≥ 3: `c₃/c₂(ctx)` if the trigram is attested, else
   *    `α·c₂/c₁(pw)`, else `α²·c₁(w)/N`
   *  - pos 2: `c₂/c₁(pw)` else `α·c₁(w)/N`
   *  - pos 1: `c₁(w)/N`
   *
   * α = 0.4 (Brants' value; 0.4 is exact in neither binary nor the point —
   * both engines parse the same decimal literal to the same double).
   * Positions whose word is out-of-vocabulary score nothing and are
   * COUNTED (`n_oov`) rather than silently dropped — a perplexity gate
   * must see its OOV mass. Per-position `ln` is 6-dp rounded before the
   * doc sum.
   *
   * 100 TB shape: unigram table broadcasts (vocab-bounded); bigram and
   * trigram TYPE tables stay hash joins on their word keys (never
   * broadcast, never collected); the only windows are per-doc `lag`s.
   * Scoring joins are per-occurrence left joins — exactly the shape the
   * backoff CASE needs, each partial-aggregable after the join.
   */
  def lmScoreStupidBackoff(docs: DataFrame, train: DataFrame, idCol: String,
                           textCol: String, alpha: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def toks(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    def withHist(t: DataFrame): DataFrame = {
      val byDoc = Window.partitionBy("id").orderBy("pos")
      t.withColumn("pw", lag(col("w"), 1).over(byDoc))
        .withColumn("ppw", lag(col("w"), 2).over(byDoc))
    }
    // (r16 note: a kn5TypeTable-style single-pass fused count table was
    // built and A/B-measured here — sbo 1.42 → 1.86 s — and REVERTED:
    // the 3×-wider ord-tagged stream re-aggregates per reference behind
    // the reused exchange, costing more than the three narrow
    // aggregations it replaced, whose scans AQE already dedupes.)
    val tt = withHist(toks(train))
    val uni = tt.groupBy("w").agg(count(lit(1)).cast("double").as("c1"))
    val n = uni.agg(sum(col("c1")).as("n"))
    val bi = tt.where(col("pw").isNotNull).groupBy("pw", "w")
      .agg(count(lit(1)).cast("double").as("c2"))
    val tri = tt.where(col("ppw").isNotNull).groupBy("ppw", "pw", "w")
      .agg(count(lit(1)).cast("double").as("c3"))
    val occ = withHist(toks(docs))
    val joined = occ
      .join(broadcast(uni), Seq("w"), "left")
      .join(broadcast(uni.select(col("w").as("pw"), col("c1").as("c1p"))),
        Seq("pw"), "left")
      .join(bi, Seq("pw", "w"), "left")
      .join(bi.select(col("pw").as("ppw"), col("w").as("pw"),
        col("c2").as("c2ctx")), Seq("ppw", "pw"), "left")
      .join(tri, Seq("ppw", "pw", "w"), "left")
      .crossJoin(broadcast(n))
    val a = lit(alpha)
    val s = when(col("c1").isNull, lit(null).cast("double"))
      .when(col("pos") === 0, col("c1") / col("n"))
      .when(col("pos") === 1,
        when(col("c2").isNotNull, col("c2") / col("c1p"))
          .otherwise(a * col("c1") / col("n")))
      .otherwise(
        when(col("c3").isNotNull, col("c3") / col("c2ctx"))
          .when(col("c2").isNotNull, a * col("c2") / col("c1p"))
          .otherwise(a * a * col("c1") / col("n")))
    joined.select(col("id"), round(log(s), 6).as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(when(col("lp").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(-sum(coalesce(col("lp"), lit(0.0))), 6).as("nll_sum"))
      .withColumnRenamed("id", idCol)
  }

  /** The token stream of `docs` with its four history lags: one row per
    * position `(id, pos, w, h1..h4)`, `h1` the closest history word and
    * missing history slots null. Spread by document first; the only
    * windows are per-doc `lag`s, bounded by document length. The training
    * side of [[kn5TypeTable]] and the scoring side of every KN5 scorer. */
  private def kn5History(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val toks = spreadByDoc(docs.select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"), posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    (1 to 4).foldLeft(toks)((df, k) => df.withColumn(s"h$k", lag(col("w"), k).over(byDoc)))
  }

  /** History key columns of an order-`k` n-gram, farthest word first. */
  private def kn5Keys(k: Int): Seq[String] = Seq("h4", "h3", "h2", "h1").takeRight(k - 1)

  /**
   * Unified n-gram type table for the 5-gram Kneser–Ney model
   * ([[lmScoreKn5]]): one row per attested n-gram TYPE of every order
   * 1..5 — `(ord, h4, h3, h2, h1, w, cnt)` with `h1` the closest history
   * word and unused history slots null. This is the ONE artifact a store
   * keeps ([[graft.queries.Materialized.kn5Types]]); every smoothing
   * count table (context masses, continuation counts, follower counts,
   * the type-count scalars) derives from it without touching corpus text.
   *
   * 100 TB shape: ONE corpus token scan (per-doc `lag` windows only,
   * bounded by document length) explodes each position into its ≤5
   * attested orders, and ONE hash aggregation on the gram key counts
   * them — shuffle volume equals the n-gram instance stream, the same
   * bytes five per-order aggregations would move in total, for a fifth
   * of the scans. Never broadcast, never collected (the order-5 table is
   * corpus-sized).
   */
  def kn5TypeTable(train: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ns = lit(null).cast("string")
    def gram(ord: Int, h4: Column, h3: Column, h2: Column, h1: Column) =
      struct(lit(ord).as("ord"), h4.as("h4"), h3.as("h3"), h2.as("h2"),
        h1.as("h1"), col("w").as("w"))
    val entries = array(
      gram(1, ns, ns, ns, ns),
      when(col("h1").isNotNull, gram(2, ns, ns, ns, col("h1"))),
      when(col("h2").isNotNull, gram(3, ns, ns, col("h2"), col("h1"))),
      when(col("h3").isNotNull, gram(4, ns, col("h3"), col("h2"), col("h1"))),
      when(col("h4").isNotNull,
        gram(5, col("h4"), col("h3"), col("h2"), col("h1"))))
    kn5History(train, idCol, textCol)
      .select(explode(filter(entries, e => e.isNotNull)).as("g"))
      .select(col("g.ord").as("ord"), col("g.h4").as("h4"),
        col("g.h3").as("h3"), col("g.h2").as("h2"), col("g.h1").as("h1"),
        col("g.w").as("w"))
      .groupBy("ord", "h4", "h3", "h2", "h1", "w")
      .agg(count(lit(1)).cast("double").as("cnt"))
  }

  /** The smoothing count tables of a KN5 type table, derived once for
    * both the double scorer ([[lmScoreKn5FromModel]]) and the quantized
    * builder ([[kn5QuantModel]]). Slices carry the count column `cnt`;
    * every derived row count has type `dt`.
    *  - `t(k)`, k = 1..5: the order-k slice `(keys, w, ck)`;
    *  - `ctx(k)`, k = 2..5: per history the mass `csk` and the follower
    *    count classes `ek_1..3` (N₁, N₂, N₃₊);
    *  - `cc(k)`, k = 2..4: continuation counts `cck = N₁₊(·hw)` from the
    *    order above, and `cx(k)` their per-history `ccsk` and `fk_1..3`;
    *  - `cont1 (w, nc1)`; one-row `nv (n, v)` and `tts (tt, u_1..3)` —
    *    `tt = Σnc1` is the bigram type count (null on an empty bigram
    *    table), `u_` the count classes of `nc1`. */
  private final case class Kn5Model(t: Map[Int, DataFrame], ctx: Map[Int, DataFrame],
                                    cc: Map[Int, DataFrame], cx: Map[Int, DataFrame],
                                    cont1: DataFrame, nv: DataFrame, tts: DataFrame) {
    /** The eight distributions that carry a discount triple: (table, count
      * column, triple prefix) — raw levels from raw counts, continuation
      * levels from continuation counts, the base from `cont1`. */
    def levels: Seq[(DataFrame, String, String)] =
      (2 to 5).map(k => (t(k), s"c$k", s"r${k}d")) ++
        (2 to 4).map(k => (cc(k), s"cc$k", s"c${k}d")) :+ ((cont1, "nc1", "ud"))
  }

  private def kn5Model(types: DataFrame, cnt: Column, dt: String): Kn5Model = {
    def rows: Column = count(lit(1)).cast(dt)
    def classes(c: Column, p: String): Seq[Column] = Seq(
      count(when(c === 1, 1)).cast(dt).as(s"${p}1"),
      count(when(c === 2, 1)).cast(dt).as(s"${p}2"),
      count(when(c >= 3, 1)).cast(dt).as(s"${p}3"))
    def agg(tbl: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
      tbl.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    def ctxOf(tbl: DataFrame, keys: Seq[String], c: String, cs: String,
              p: String): DataFrame =
      agg(tbl, keys, sum(col(c)).as(cs) +: classes(col(c), p))
    val t = (1 to 5).map(k => k -> types.where(col("ord") === k)
      .select((kn5Keys(k) :+ "w").map(col) :+ cnt.as(s"c$k"): _*)).toMap
    val cc = (2 to 4).map(k =>
      k -> agg(t(k + 1), kn5Keys(k) :+ "w", Seq(rows.as(s"cc$k")))).toMap
    val cont1 = agg(t(2), Seq("w"), Seq(rows.as("nc1")))
    Kn5Model(t,
      (2 to 5).map(k => k -> ctxOf(t(k), kn5Keys(k), s"c$k", s"cs$k", s"e${k}_")).toMap,
      cc,
      cc.map { case (k, c) => k -> ctxOf(c, kn5Keys(k), s"cc$k", s"ccs$k", s"f${k}_") },
      cont1,
      t(1).agg(sum(col("c1")).as("n"), rows.as("v")),
      agg(cont1, Nil, sum(col("nc1")).as("tt") +: classes(col("nc1"), "u_")))
  }

  /** One distribution's modified-KN discount triple as a one-row frame
    * `<p>1, <p>2, <p>3`: Chen & Goodman's estimator over the
    * count-of-counts n₁..n₄ of `tbl.c` — `Y = n₁/(n₁+2n₂)`,
    * `D₁ = 1−2Y·n₂/n₁`, `D₂ = 2−3Y·n₃/n₂`, `D₃ = 3−4Y·n₄/n₃` — under
    * KenLM's validity rule: a level whose estimate falls outside
    * `0 < Dₖ ≤ k` (or whose count-of-counts has a zero) falls back to
    * 0.75 WHOLE-TRIPLE. The positivity half of the rule is what
    * guarantees p > 0 everywhere: a zero discount zeroes a sparse
    * history's entire backoff mass, and an unseen word under it would
    * score ln(0). `mu` rounds each discount to micro-unit longs,
    * `round(round(D, 6)·10⁶)` (0.75 → exactly 750000), which makes every
    * quantized numerator downstream exact integer arithmetic. The SAME
    * expression text as the oracle's replay. */
  private def kn5Discounts(tbl: DataFrame, c: String, p: String, mu: Boolean): DataFrame = {
    val coc = tbl.agg(
      count(when(col(c) === 1, 1)).cast("double").as("n1"),
      count(when(col(c) === 2, 1)).cast("double").as("n2"),
      count(when(col(c) === 3, 1)).cast("double").as("n3"),
      count(when(col(c) === 4, 1)).cast("double").as("n4"))
    // try_divide: under ANSI a zero denominator would THROW before the
    // n-zero guard can choose the fallback; a null estimate instead makes
    // `invalid` true through the n-zero disjuncts (a denominator is zero
    // only when some nₖ is), and when all nₖ > 0 try_divide is the plain
    // IEEE division the oracle computes
    val y = try_divide(col("n1"), col("n1") + lit(2.0) * col("n2"))
    val d1r = lit(1.0) - try_divide(lit(2.0) * y * col("n2"), col("n1"))
    val d2r = lit(2.0) - try_divide(lit(3.0) * y * col("n3"), col("n2"))
    val d3r = lit(3.0) - try_divide(lit(4.0) * y * col("n4"), col("n3"))
    val invalid = col("n1") === 0.0 || col("n2") === 0.0 ||
      col("n3") === 0.0 || col("n4") === 0.0 ||
      d1r <= 0.0 || d1r > 1.0 || d2r <= 0.0 || d2r > 2.0 ||
      d3r <= 0.0 || d3r > 3.0
    def dk(k: Int, raw: Column): Column = {
      val d = when(invalid, lit(0.75)).otherwise(raw)
      (if (mu) round(round(d, 6) * 1e6, 0).cast("long") else d).as(s"$p$k")
    }
    coc.select(dk(1, d1r), dk(2, d2r), dk(3, d3r))
  }

  /** `df` with the discount triples of `levels` as columns `<p>1..3` —
    * the one place a KN5 builder reads `modified`. Modified KN takes the
    * Chen–Goodman estimates ([[kn5Discounts]], one-row broadcasts
    * cross-joined in); fixed-discount interpolated KN is modified KN with
    * `D₁ = D₂ = D₃ = 0.75` (Chen & Goodman 1998), added as literal
    * columns, so it pays no extra join. */
  private def kn5WithDiscounts(df: DataFrame, levels: Seq[(DataFrame, String, String)],
                               modified: Boolean, mu: Boolean): DataFrame =
    if (modified) levels.foldLeft(df) { case (acc, (tbl, c, p)) =>
      acc.crossJoin(broadcast(kn5Discounts(tbl, c, p, mu)))
    }
    else df.select(col("*") +: (for ((_, _, p) <- levels; k <- 1 to 3)
      yield (if (mu) lit(750000L) else lit(0.75)).as(s"$p$k")): _*)

  /** The interpolated KN5 chain and per-doc epilogue of both scorers.
    * `level(k, continuation, lower)` is the scorer's interpolation step:
    * `p1` is level 1 over `base`; for k = 2..4 a continuation level `pkc`
    * and a raw top `pkr` interpolate over `p(k−1)c`; `p5` is the raw top
    * over `p4c`. Per position (0-based) the chain top is the longest
    * available order; position 0 scores `p0` (the ML unigram); a null
    * `known` marks an out-of-vocabulary position, counted (`n_oov`) and
    * never dropped. Per-position `ln` is 6-dp rounded before the doc sum
    * (the [[lmScoreStupidBackoff]] convention). */
  private def kn5Chain(joined: DataFrame, idCol: String, known: Column, p0: Column,
                       base: Column)(level: (Int, Boolean, Column) => Column): DataFrame = {
    val staged = (2 to 5).foldLeft(joined.withColumn("p1", level(1, true, base))) { (df, k) =>
      val lower = col(if (k == 2) "p1" else s"p${k - 1}c")
      if (k == 5) df.withColumn("p5", level(5, false, lower))
      else df.withColumn(s"p${k}c", level(k, true, lower))
        .withColumn(s"p${k}r", level(k, false, lower))
    }
    val s = when(known.isNull, lit(null).cast("double"))
      .when(col("pos") === 0, p0)
      .when(col("pos") === 1, col("p2r"))
      .when(col("pos") === 2, col("p3r"))
      .when(col("pos") === 3, col("p4r"))
      .otherwise(col("p5"))
    staged.select(col("id"), round(log(s), 6).as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(when(col("lp").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(-sum(coalesce(col("lp"), lit(0.0))), 6).as("nll_sum"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * Interpolated 5-gram Kneser–Ney scoring (Kneser & Ney 1995; the
   * interpolated formulation of Chen & Goodman 1998) — the shape of the
   * KenLM 5-gram gate CCNet actually ships, generalizing
   * [[lmScoreKneserNey]]'s bigram to the full backoff chain. Trained on
   * `train`, scored on `docs` — a HELD-OUT split, so unseen histories
   * exercise every backoff level. Per position (0-based) the chain top
   * is the longest available order (`min(pos+1, 5)`):
   *
   *  - top level (raw counts):
   *    `p_k(w|h) = max(c_k−D,0)/c_k(h·) + D·N₁₊(h·)/c_k(h·) · p_{k−1}`
   *  - middle levels (continuation counts, the "Francisco" correction):
   *    `p_k(w|h) = max(N₁₊(·hw)−D,0)/N₁₊(·h·) + D·N₁₊(h·)/N₁₊(·h·) · p_{k−1}`
   *  - base: `p₁(w) = max(N₁₊(·w)−D,0)/N₁₊(··) + D·W₁/N₁₊(··) · (1/|V|)`
   *    — interpolated with the uniform distribution (the KenLM bottom),
   *    so every in-vocab word has p₁ > 0 even if it only ever appears
   *    document-initially
   *  - an UNSEEN history at any level backs off with weight 1 to the
   *    level below; position 0 scores the ML unigram (the
   *    [[lmScoreBigram]] house convention); OOV words are counted
   *    (`n_oov`), never silently dropped
   *
   * `D = 0.75` at every order (exactly representable in binary — the
   * same literal in both engines); `modified = true` estimates the
   * discounts instead ([[lmScoreKn5FromModel]]). Per-position `ln` is
   * 6-dp rounded before the doc sum.
   *
   * 100 TB shape: all n-gram/continuation/context tables stay hash joins
   * on their word keys — NEVER broadcast, never collected (the order-5
   * table is corpus-sized); the only broadcast is the one-row scalar
   * aggregate; the only windows are per-doc `lag`s. The live form replays
   * the model subtree per join — production scoring uses the STORED type
   * table ([[graft.queries.Materialized.kn5Types]]), which makes every
   * join side a parquet read.
   */
  def lmScoreKn5(docs: DataFrame, train: DataFrame, idCol: String,
                 textCol: String, modified: Boolean = false): DataFrame = {
    // the live form branches the type table into ~15 join legs — persist
    // it so the live measurement times SCORING, not 15× re-aggregation
    // (the in-memory analogue of the stored path's parquet reads; r11
    // verdict nit). The materializeAndRelease discipline (r12 ADVICE):
    // the tiny per-doc score result caches eagerly and the type table
    // unpersists, so repeated live calls in one session don't accumulate
    // cached model tables.
    val types = kn5TypeTable(train, idCol, textCol).persist()
    Dedup.materializeAndRelease(
      lmScoreKn5FromModel(docs, idCol, textCol, types, modified),
      materialize = true, types)
  }

  /** [[lmScoreKn5]] against a TRAINED unified type table
    * ([[kn5TypeTable]]'s output or the stored artifact): derives the
    * smoothing count tables from the types alone — corpus text is never
    * re-read for the model side.
    *
    * Every level applies its discount triple by count class
    * (`D(c) = D₁, D₂, D₃` for `c = 1, 2, ≥3`) with backoff mass
    * `γ(h) = (D₁N₁(h·)+D₂N₂(h·)+D₃N₃₊(h·))/c(h·)`. `modified = true` is
    * MODIFIED Kneser–Ney (Chen & Goodman 1998 §3; the estimator KenLM
    * ships): each triple is estimated from its level's own
    * count-of-counts ([[kn5Discounts]]). `modified = false` holds every
    * triple at 0.75, which is exactly the fixed-discount chain of
    * [[lmScoreKn5]]: `c − 0.75 = max(c − 0.75, 0)` for `c ≥ 1`, and
    * `0.75·N₁ + 0.75·N₂ + 0.75·N₃₊ = 0.75·N₁₊` in IEEE doubles. All
    * eight triples are one-row aggregates of the (bounded) type tables —
    * broadcast scalars, never corpus scans — so both read the SAME
    * stored artifact.
    *
    * PRECONDITION on `types` (r15 ADVICE, pinned by LlmSpec's "kn5
    * pre-join invariant" test): every continuation key must be attested
    * at its own order — order-k+1's (history, w) projections ⊆ order-k's
    * keys. [[kn5TypeTable]] output satisfies it by suffix closure and
    * [[kn5Prune]] preserves it for any non-decreasing threshold schedule;
    * a caller passing a DIFFERENTLY filtered table (e.g. one that drops
    * low-order rows) would silently null out continuation/context counts
    * through the model-side left pre-joins below. */
  def lmScoreKn5FromModel(docs: DataFrame, idCol: String, textCol: String,
                          types: DataFrame, modified: Boolean = false): DataFrame = {
    val m = kn5Model(types, col("cnt"), "double")
    // r15 optimization (guide §2.4/§3): legs that share a key are
    // pre-joined MODEL-SIDE (gram tables with their continuation twins on
    // the gram key, context tables with their continuation-context twins
    // on the history key), so the token stream is probed once per KEY: 9
    // legs instead of 15. The pre-joins are LEFT joins, which keeps them
    // broadcastable (a full-outer join would force a sort-merge with two
    // extra exchanges per leg). Left is equivalent to two independent
    // occ-side left joins because every continuation table's keys are a
    // SUBSET of its raw twin's (the precondition above). All one-row
    // aggregates (n/v, tt/u, the eight discount triples) collapse into
    // ONE one-row broadcast instead of a BroadcastNestedLoopJoin chain
    // through the token stream.
    val legs = (2 to 4).flatMap { k =>
      val keys = kn5Keys(k)
      Seq(m.t(k).join(m.cc(k), keys :+ "w", "left") -> (keys :+ "w"),
        m.ctx(k).join(m.cx(k), keys, "left") -> keys)
    } ++ Seq(m.t(5) -> (kn5Keys(5) :+ "w"), m.ctx(5) -> kn5Keys(5))
    val scalars = kn5WithDiscounts(m.nv.crossJoin(m.tts), m.levels, modified, mu = false)
    val joined = legs.foldLeft(kn5History(docs, idCol, textCol)
        .join(m.t(1).join(m.cont1, Seq("w"), "left"), Seq("w"), "left")) {
        case (acc, (tbl, keys)) => acc.join(tbl, keys, "left")
      }.crossJoin(broadcast(scalars))
    // the discounted-interpolation step, identical shape at every level —
    // the SAME expression text as the oracle's replay. The base level's
    // `tt` is null exactly when the bigram table is empty.
    def interp(cnt: Column, cs: Column, kp: String, dp: String,
               lower: Column): Column = {
      val (d1, d2, d3) = (col(s"${dp}1"), col(s"${dp}2"), col(s"${dp}3"))
      when(cs.isNotNull,
        (when(cnt.isNull, lit(0.0))
          .when(cnt === 1.0, cnt - d1)
          .when(cnt === 2.0, cnt - d2)
          .otherwise(cnt - d3)) / cs +
          (d1 * col(s"${kp}1") + d2 * col(s"${kp}2") + d3 * col(s"${kp}3")) /
            cs * lower)
        .otherwise(lower)
    }
    kn5Chain(joined, idCol, col("c1"), col("c1") / col("n"), lit(1.0) / col("v")) {
      case (1, _, lower) => interp(col("nc1"), col("tt"), "u_", "ud", lower)
      case (k, true, lower) =>
        interp(col(s"cc$k"), col(s"ccs$k"), s"f${k}_", s"c${k}d", lower)
      case (k, false, lower) =>
        interp(col(s"c$k"), col(s"cs$k"), s"e${k}_", s"r${k}d", lower)
    }
  }

  /** KenLM-shape count-threshold pruning of a [[kn5TypeTable]] (the
    * `--prune 0 0 1 1 1` dial): drop order-3/4/5 types with `cnt` below
    * the per-order floor, keep orders 1–2 whole. Consumers re-derive
    * EVERY smoothing table (context masses, continuation counts, backoff
    * masses) from the pruned table, so the model stays exactly normalized
    * (per context, `Σ max(c−D,0)/cs + D·nf/cs = 1` holds because `cs` and
    * `nf` are sums over the KEPT types — property-pinned in LlmSpec).
    * Suffix-count monotonicity (`cnt(h,w) ≤ cnt(suffix(h),w)`) keeps the
    * pruned orders closed under suffixing for any non-decreasing
    * threshold schedule, so continuation tables derived from order k+1
    * never reference a pruned order-k gram. At 100 TB this is THE stored
    * artifact's scale dial: the unpruned order-4/5 slices are
    * near-corpus-sized while singletons carry ~no smoothing mass. */
  def kn5Prune(types: DataFrame, minCount345: Long = 2L): DataFrame = {
    require(minCount345 >= 1L, s"minCount345 must be ≥ 1, got $minCount345")
    types.where(col("ord") <= 2 || col("cnt") >= minCount345.toDouble)
  }

  /**
   * Quantized ARPA-style 5-gram KN model from a (pruned) [[kn5TypeTable]]
   * — the second half of KenLM's `--prune` + quantization recipe: instead
   * of deriving the smoothing tables at every scoring run, materialize
   * per-gram discounted probabilities and per-context backoff masses,
   * quantized to 6-dp micro-units, as ONE unified `(kind, ord)` table:
   *
   *  - `kind = 'gram'`, ord 2–5: `qa6 = ⌈(c−D(c))/c(h·)⌉₆` (raw-top
   *    numerator), `qb6 = ⌈(N₁₊(·hw)−D(N₁₊(·hw)))/N₁₊(·h·)⌉₆`
   *    (continuation numerator, null when the gram never extends
   *    leftward);
   *  - `kind = 'ctx'`, ord 2–5: `qa6 = ⌈ΣDₖNₖ/cs⌉₆` (raw backoff γ),
   *    `qb6` the continuation γ — both CLAMPED to ≥ 1 micro-unit: a γ
   *    quantized to zero would zero a sparse history's entire backoff
   *    mass and score an unseen word ln(0) (the cross-engine error/null
   *    divergence); one micro-unit is the soft-EM singles discipline;
   *  - `kind = 'uni'`: per vocab word, `qa6 = ⌈c₁/N⌉₆` (the pos-0 ML
   *    unigram, clamped ≥ 1 — a hapax in a >2M-token corpus must not
   *    quantize to ln(0)) and `qb6 = ⌈(nc₁−D(nc₁))/N₁₊(··)⌉₆`;
   *  - `kind = 'scal'`: one row — `qa6 = ⌈ΣDₖuₖ/N₁₊(··)⌉₆` (base γ),
   *    `qb6 = ⌈1/|V|⌉₆` (uniform floor), both clamped.
   *
   * The discount triples are the fixed 0.75 or, `modified = true`, the
   * Chen–Goodman estimates ([[kn5Discounts]]), quantized to micro-unit
   * longs Dµ FIRST, so every quantity is EXACT-INTEGER half-up 6-dp:
   * `(c−D)/cs` rounds to `(2(10⁶c − Dµ) + cs) div (2cs)` and
   * `ΣDₖNₖ/cs` to `(2·ΣDₖµNₖ + cs) div (2cs)` on longs — the identical
   * operation in any engine (the softDedup discipline; both operands
   * positive, so truncating and floor division coincide). The validity
   * bounds `Dₖ ≤ k` keep every numerator non-negative. At D = 0.75 these
   * equal the fixed model's `(2·10⁶(4c−3) + 4cs) div (8cs)` bit for bit.
   *
   * 100 TB shape: scoring against this artifact is TWO hash joins per
   * order (gram + context) on bounded parquet slices — the derivation
   * aggregations are paid once at store time; the quantized longs halve
   * the artifact width vs doubles and cap the value alphabet.
   */
  def kn5QuantModel(types: DataFrame, modified: Boolean = false): DataFrame = {
    // micro-unit half-up quantization of a/b on integer columns (a,b > 0)
    def q6(a: String, b: String): Column =
      expr(s"(2000000 * ($a) + ($b)) div (2 * ($b))")
    def clamp(c: Column): Column = greatest(c, lit(1L))
    val nl = lit(null).cast("long")
    // fail-loud overflow bound (r12 ADVICE): the γ numerator 2·ΣDₖµNₖ
    // reaches 6·10⁶·N₁₊ on longs, which silently wraps past ~1.5·10¹²,
    // corrupting quantized probabilities in non-ANSI mode — assert the
    // input counts are inside the exact-integer envelope instead (derived
    // counts — context sums, follower/continuation counts — are
    // denominators or row counts of the same magnitude and inherit the
    // bound). assert_true returns null when the contract holds, so the
    // coalesce is free in codegen.
    val checkedCnt: Column = coalesce(
      assert_true(col("cnt").cast("long") <= MaxQuantCount,
        lit(s"kn5QuantModel: a type count exceeds $MaxQuantCount — the " +
          "6·10⁶·N integer quantization would overflow a long; " +
          "rescale or shard the corpus before quantizing")).cast("long"),
      col("cnt").cast("long"))
    val m = kn5Model(types, checkedCnt, "long")
    def withD(df: DataFrame, p: String): DataFrame =
      kn5WithDiscounts(df, m.levels.filter(_._3 == p), modified, mu = true)
    // numerator q6 with the count-class discount D(c) of triple `p`
    def qm(c: String, p: String, cs: String): Column = expr(
      s"(2 * (1000000 * $c - CASE WHEN $c = 1 THEN ${p}1 WHEN $c = 2 " +
        s"THEN ${p}2 ELSE ${p}3 END) + $cs) div (2 * $cs)")
    // backoff γ = (Σ Dₖµ·Nₖ)/cs, clamped ≥ 1 µ
    def gm(p: String, kp: String, cs: String): Column =
      clamp(expr(s"(2 * (${p}1 * ${kp}1 + ${p}2 * ${kp}2 + " +
        s"${p}3 * ${kp}3) + $cs) div (2 * $cs)"))
    def pad(df: DataFrame, k: Int, kind: String, qa: Column,
            qb: Column): DataFrame = {
      val have = df.columns.toSet
      def hcol(n: String) = if (have(n)) col(n) else lit(null).cast("string")
      df.select(lit(kind).as("kind"), lit(k).as("ord"),
        hcol("h4").as("h4"), hcol("h3").as("h3"), hcol("h2").as("h2"),
        hcol("h1").as("h1"), hcol("w").as("w"),
        qa.as("qa6"), qb.as("qb6"))
    }
    // per order: the raw level's numerator / γ, and (below order 5) the
    // continuation level's, null where the gram or history never extends
    // leftward
    def rows(k: Int, kind: String): DataFrame = {
      val keys = kn5Keys(k)
      val raw = withD(if (kind == "gram") m.t(k).join(m.ctx(k), keys) else m.ctx(k),
        s"r${k}d")
      val withQb =
        if (k == 5) raw.withColumn("qb", nl)
        else if (kind == "gram")
          withD(raw.join(m.cc(k), keys :+ "w", "left").join(m.cx(k), keys, "left"),
            s"c${k}d").withColumn("qb", when(col(s"cc$k").isNotNull,
            qm(s"cc$k", s"c${k}d", s"ccs$k")).otherwise(nl))
        else
          withD(raw.join(m.cx(k), keys, "left"), s"c${k}d")
            .withColumn("qb", when(col(s"ccs$k").isNotNull,
              gm(s"c${k}d", s"f${k}_", s"ccs$k")).otherwise(nl))
      pad(withQb, k, kind,
        if (kind == "gram") qm(s"c$k", s"r${k}d", s"cs$k")
        else gm(s"r${k}d", s"e${k}_", s"cs$k"),
        col("qb"))
    }
    val uniRows = pad(
      withD(m.t(1).crossJoin(m.nv).join(m.cont1, Seq("w"), "left")
        .crossJoin(m.tts), "ud"),
      1, "uni", clamp(q6("c1", "n")),
      when(col("nc1").isNotNull && col("tt") > 0L, qm("nc1", "ud", "tt"))
        .otherwise(nl))
    val scalRow = pad(withD(m.tts.crossJoin(m.nv), "ud"), 0, "scal",
      when(col("tt") > 0L, gm("ud", "u_", "tt")).otherwise(nl),
      clamp(q6("1", "v")))
    (Seq("gram", "ctx").flatMap(kind => (2 to 5).map(rows(_, kind))) :+ scalRow)
      .foldLeft(uniRows)(_ unionByName _)
  }

  /**
   * 5-gram KN scoring against a QUANTIZED stored model
   * ([[kn5QuantModel]]'s output) — the production KenLM-binary shape:
   * per order, ONE gram join (discounted-probability numerator) and ONE
   * context join (backoff γ), then the interpolation chain
   * `p_k = q + γ·p_{k−1}` runs on the quantized micro-unit values in
   * double space (identical IEEE ops in any engine; every γ ≥ 1 µ keeps
   * the chain strictly positive, so `ln` never sees 0). Backoff on an
   * absent context is weight-1 to the level below; pos-0 scores the
   * quantized ML unigram; OOV = no `uni` row, counted never dropped.
   * Same output contract as [[lmScoreKn5FromModel]] (values differ by
   * ≤ 0.5 µ/term quantization — this is a DIFFERENT, coarser model).
   *
   * 100 TB shape: ~9 hash joins on `(kind, ord)`-partition-pruned parquet
   * slices of one stored artifact; no aggregation over the model at
   * scoring time at all (the [[lmScoreKn5FromModel]] path re-derives
   * every context/continuation table per run); only the one-row `scal`
   * slice broadcasts.
   */
  def lmScoreKn5Quant(docs: DataFrame, idCol: String, textCol: String,
                      quant: DataFrame): DataFrame = {
    val m = lit(1e6)
    val uni = quant.where(col("kind") === "uni")
      .select(col("w"), col("qa6").as("q0"), col("qb6").as("q1u"))
    val scal = quant.where(col("kind") === "scal")
      .select(col("qa6").as("gam1"), col("qb6").as("vinv"))
    def gram(k: Int) = quant.where(col("kind") === "gram" && col("ord") === k)
      .select((kn5Keys(k) :+ "w").map(col) :+ col("qa6").as(s"qr$k") :+
        col("qb6").as(s"qc$k"): _*)
    def ctx(k: Int) = quant.where(col("kind") === "ctx" && col("ord") === k)
      .select(kn5Keys(k).map(col) :+ col("qa6").as(s"gr$k") :+
        col("qb6").as(s"gc$k"): _*)
    val joined = (2 to 5).foldLeft(
        kn5History(docs, idCol, textCol).join(uni, Seq("w"), "left")) { (acc, k) =>
        acc.join(gram(k), kn5Keys(k) :+ "w", "left").join(ctx(k), kn5Keys(k), "left")
      }.crossJoin(broadcast(scal))
    // the quantized interpolation level: q + γ·lower, weight-1 backoff on
    // an absent context — the SAME expression text as the oracle's replay
    def lvl(q: Column, g: Column, lower: Column): Column =
      when(g.isNotNull,
        coalesce(q, lit(0L)) / m + g / m * lower).otherwise(lower)
    kn5Chain(joined, idCol, col("q0"), col("q0") / m, col("vinv") / m) {
      case (1, _, lower) => lvl(col("q1u"), col("gam1"), lower)
      case (k, cont, lower) =>
        val s = if (cont) "c" else "r"
        lvl(col(s"q$s$k"), col(s"g$s$k"), lower)
    }
  }

  /** Count-min-sketch bucket for word `w` under hash row `seed`:
    * `md5(seed|w)` reduced to 60 bits then mod `width` — the portable
    * [[TextHashing]] discipline, so any engine addresses the same cell. */
  def cmsBucket(w: Column, seed: Column, width: Int): Column =
    pmod(conv(substring(md5(concat_ws("|", seed.cast("string"), w)), 1, 15),
      16, 10).cast("long"), lit(width.toLong))

  /**
   * Count-min sketch over corpus word frequencies (Cormode & Muthukrishnan
   * 2005): `depth` independent hash rows × `width` buckets, each cell the
   * sum of counts hashing into it. THE bounded-memory frequency structure —
   * the sketch is `depth·width` cells no matter the corpus size, with
   * one-sided error: `estimate ≥ true count` always, and
   * `estimate ≤ true + εN` w.p. 1−δ at `width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉`.
   *
   * 100 TB shape: one token scan → partial-aggregable groupBy onto at most
   * `depth·width` cells (every executor combines map-side into the same
   * tiny key space — the shuffle carries ≤ `depth·width` rows per task,
   * not the vocabulary). The cell table then BROADCASTS to probes
   * ([[cmsEstimate]]) — frequency lookups against a 100 TB corpus for the
   * cost of a few-KB join, no vocabulary-sized exact table anywhere.
   */
  def cmsCells(docs: DataFrame, textCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame =
    // spread by a per-row synthetic id, NOT the text value (r15 ADVICE),
    // before the token x seed explode: the depth x tokens md5 stream is
    // the dominant cost and must not pipeline into a single-split scan —
    // but hashing the TEXT sends a duplicate-heavy corpus (the regime
    // these dedup pipelines exist for) to one partition, re-serializing
    // the kernel. monotonically_increasing_id derives from (partition,
    // row position) — deterministic under task retry (guide §2.5), even
    // spread under any duplication.
    spreadIfNarrow(docs.select(col(textCol))
        .withColumn("__rid", monotonically_increasing_id()), col("__rid"))
      .select(explode(split(col(textCol), " ")).as("w"))
      .select(col("w"), explode(sequence(lit(0), lit(depth - 1))).as("seed"))
      .groupBy(col("seed"), cmsBucket(col("w"), col("seed"), width).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Probe a count-min sketch: each probe word reads its `depth` cells
    * and takes the MIN (missing cells read 0 — a word the corpus never
    * hashed can still alias into occupied cells, which is exactly the
    * overestimate the sketch contract allows). The cell table broadcasts;
    * the probe side is the caller's (bounded) word set. */
  def cmsEstimate(probe: DataFrame, wordCol: String, cells: DataFrame,
                  depth: Int, width: Int): DataFrame =
    probe.select(col(wordCol).as("w")).distinct()
      .select(col("w"), explode(sequence(lit(0), lit(depth - 1))).as("seed"))
      .withColumn("bucket", cmsBucket(col("w"), col("seed"), width))
      .join(broadcast(cells), Seq("seed", "bucket"), "left")
      .groupBy("w")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /**
   * PMI collocations (Church & Hanks 1990): adjacent word pairs ranked by
   * pointwise mutual information `ln( p(w1,w2) / (p(w1)·p(w2)) )` with a
   * minimum-count floor (PMI without the floor surfaces hapax noise) —
   * the standard collocation / stop-phrase discovery pass. One corpus
   * token scan feeds both count tables; unigrams and the two scalars
   * broadcast into the vocab²-bounded bigram TYPE table; the top-k is a
   * TakeOrdered over that bounded table, never a corpus sort.
   */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 20, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("double").as("cu"))
    val t = uni.agg(sum(col("cu")).as("t"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val pairs = toks.withColumn("pw", lag(col("w"), 1).over(byDoc))
      .where(col("pw").isNotNull)
    val bt = pairs.agg(count(lit(1)).cast("double").as("bt"))
    pairs.groupBy(col("pw").as("w1"), col("w").as("w2"))
      .agg(count(lit(1)).as("cb"))
      .where(col("cb") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("cu1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("cu2"))), "w2")
      .crossJoin(broadcast(t)).crossJoin(broadcast(bt))
      .withColumn("pmi", round(log((col("cb") / col("bt")) /
        ((col("cu1") / col("t")) * (col("cu2") / col("t")))), 6))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(topK)
      .select(col("w1"), col("w2"), col("cb"), col("pmi"))
  }

  /**
   * Pairwise Jensen–Shannon divergence between per-source unigram
   * distributions — the mixture-design diagnostic ("how different are my
   * domains?"). The trick that keeps it ONE inner self-join: words
   * outside the intersection contribute exactly `p·ln 2` to their side's
   * KL term, and the intersection's probability mass `S` is already in
   * hand, so
   * `JS = ½(Σ∩ p_a ln(p_a/m) + (1−S_a)·ln 2) + ½(… b …)` — no full-outer
   * join, no union-domain table. Per-word terms reduce as 6-dp scaled
   * longs (integer sums — bit-stable across engines and partitionings).
   * The join on `w` is vocab-bounded × S² sources; totals broadcast.
   *
   * EVERY ordered source pair gets a row: pairs with fully disjoint
   * vocabularies — exactly the maximal-divergence case a mixture-design
   * diagnostic most needs to surface — have no shared-word rows, so the
   * pair domain comes from the (bounded) source list and the aggregate
   * left-joins onto it, reporting `n_shared_words = 0` and the identity's
   * limit `js = ln 2`.
   */
  def jsDivergenceBySource(docs: DataFrame, sourceCol: String,
                           textCol: String): DataFrame = {
    val counts = docs.select(col(sourceCol).as("src"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).cast("double").as("c"))
    val totals = counts.groupBy("src").agg(sum(col("c")).as("tot"))
    val p = counts.join(broadcast(totals), "src")
      .select(col("src"), col("w"), (col("c") / col("tot")).as("p"))
    def s6(c: Column): Column = round(round(c, 6) * 1e6, 0).cast("long")
    val m = (col("a.p") + col("b.p")) / 2
    val joined = p.as("a").join(p.as("b"),
      col("a.w") === col("b.w") && col("a.src") < col("b.src"))
    val agg = joined.groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared_words"),
        sum(s6(col("a.p") * log(col("a.p") / m))).as("ka6"),
        sum(s6(col("b.p") * log(col("b.p") / m))).as("kb6"),
        sum(s6(col("a.p"))).as("sa6"),
        sum(s6(col("b.p"))).as("sb6"))
    // all ordered pairs over the bounded source list (a broadcast
    // theta-join over two #sources-row aggregates, never a data-table
    // cartesian); disjoint-vocabulary pairs coalesce to the ln 2 limit
    val srcs = totals.select(col("src"))
    val allPairs = srcs.select(col("src").as("src_a"))
      .join(broadcast(srcs.select(col("src").as("src_b"))),
        col("src_a") < col("src_b"))
    allPairs.join(agg, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_shared_words"), lit(0L)).as("n_shared_words"),
        round(lit(0.5) * (coalesce(col("ka6"), lit(0L)) / 1e6 +
            (lit(1.0) - coalesce(col("sa6"), lit(0L)) / 1e6) * log(lit(2.0))) +
          lit(0.5) * (coalesce(col("kb6"), lit(0L)) / 1e6 +
            (lit(1.0) - coalesce(col("sb6"), lit(0L)) / 1e6) * log(lit(2.0))),
          6).as("js"))
  }

  /**
   * Population-stability index between two corpus slices over the
   * doc-token-length distribution — the data-drift monitor a continuous
   * ingestion pipeline alarms on (PSI > 0.2 = major shift, credit-risk
   * folklore thresholds). Laplace-smoothed bin probabilities
   * `(cnt+1)/(n+B)` over the OBSERVED bin union (B = observed bin count),
   * so empty-on-one-side bins contribute finitely; per-bin terms reduce
   * as 6-dp scaled longs. Output: one row per bin with both sides'
   * smoothed probabilities and the term, plus the total replicated per
   * row (the bin table is bounded by maxLen/binWidth — the single
   * partition the total window runs over holds dozens of rows, not
   * corpus rows).
   */
  def psiDrift(docs: DataFrame, sliceA: Column, textCol: String,
               binWidth: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null text coalesces to "" (bin 0) — same NULL-bin cross-engine
    // ordering hazard as [[lenQuantileSketch]]
    val lens = docs.select(sliceA.as("in_a"),
      floor(size(split(coalesce(col(textCol), lit("")), " ")) / binWidth)
        .cast("long").as("bin"))
    val bins = lens.groupBy("bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("cnt_b"))
    val tot = bins.agg(sum(col("cnt_a")).as("na"), sum(col("cnt_b")).as("nb"),
      count(lit(1)).cast("long").as("nbins"))
    val withP = bins.crossJoin(broadcast(tot))
      .withColumn("pa", (col("cnt_a") + 1) / (col("na") + col("nbins")))
      .withColumn("pb", (col("cnt_b") + 1) / (col("nb") + col("nbins")))
      .withColumn("term6",
        round(round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6) * 1e6, 0)
          .cast("long"))
    withP.select(col("bin"), col("cnt_a"), col("cnt_b"),
      round(col("pa"), 6).as("pa"), round(col("pb"), 6).as("pb"),
      round(col("term6") / 1e6, 6).as("term"),
      round(sum(col("term6")).over(Window.partitionBy(lit(1))) / 1e6, 6)
        .as("psi_total"))
  }

  /**
   * Histogram-sketch quantiles of document token lengths — the MERGEABLE
   * bounded-memory quantile structure that completes the sketch family
   * (HLL distincts, Bloom membership, count-min frequencies, this for
   * order statistics): an equi-width histogram of `binWidth` tokens per
   * bin is a fixed-size, trivially mergeable per-shard artifact; the
   * q-quantile estimate is the upper edge of the first bin whose
   * cumulative count reaches `⌈q·N⌉`, one-sided (`exact ≤ est <
   * exact + binWidth` — both pinned per row in the output). The exact
   * twin runs the SAME order-statistics cut over the width-1 value-count
   * table (token lengths are small integers, so that table is bounded
   * too — the `pplBucketsThreshold` discipline).
   *
   * 100 TB shape: one scan → partial-aggregable groupBy onto ≤ maxLen/W
   * bins; the cumulative windows run over the BOUNDED bin/value tables
   * (hundreds of rows), never the corpus.
   */
  def lenQuantileSketch(docs: DataFrame, textCol: String, binWidth: Int = 8,
                        qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null text coalesces to "" (one empty word, bin 0) BEFORE binning: a
    // NULL bin would sort first in Spark's cumulative window but last in a
    // SQL engine's, silently shifting every quantile's cum counts
    val lens = docs.select(
      size(split(coalesce(col(textCol), lit("")), " ")).cast("long").as("l"))
    val tot = lens.agg(count(lit(1)).as("n"))
    val hist = lens.groupBy(floor(col("l") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("bin")))
    val vals = lens.groupBy(col("l")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("l")))
    val qDf = docs.sparkSession.createDataFrame(
      qs.map(Tuple1.apply)).toDF("q")
    val est = qDf.crossJoin(broadcast(tot)).join(broadcast(hist),
        col("cum") >= ceil(col("q") * col("n")))
      .groupBy("q").agg(min((col("bin") + 1) * binWidth - 1).as("est"))
    val exact = qDf.crossJoin(broadcast(tot)).join(broadcast(vals),
        col("cum") >= ceil(col("q") * col("n")))
      .groupBy("q").agg(min(col("l")).as("exact"))
    est.join(exact, "q")
      .select(col("q"), col("est"), col("exact"),
        (col("est") - col("exact")).as("err"),
        (col("est") >= col("exact") &&
          col("est") - col("exact") < binWidth).as("within_bound"))
  }

  // ---- Unigram LM tokenizer (SentencePiece, Kudo 2018) — hard-EM ----

  /** The unigram segmentation total order: higher log-prob sum wins, then
    * fewer pieces, then the lexicographically smaller joined sequence.
    * SUFFIX-COMPOSABLE (two prefixes of the same substring have the same
    * character content, so with equal piece counts their joined strings
    * have equal length and appending a common suffix preserves the
    * comparison) — which is what lets the left-to-right Viterbi DP find
    * the global optimum of the exact order the oracle's full-enumeration
    * replay ranks by. */
  private[llm] def unigramBetter(aLp: Double, aNp: Int, aSeq: String,
                                 bLp: Double, bNp: Int, bSeq: String): Boolean =
    aLp > bLp || (aLp == bLp && (aNp < bNp || (aNp == bNp && aSeq < bSeq)))

  /** Viterbi segmentation of one word under piece log-probs. Log-prob
    * sums accumulate left-to-right (the same IEEE order as the oracle's
    * path enumeration). Fails loud if the vocabulary cannot cover the
    * word — unreachable while single characters stay in the vocabulary,
    * which hard-EM preserves (a survivor segmentation is always
    * available to the next iteration). */
  private[llm] def viterbiSegment(w: String, lp: collection.Map[String, Double],
                                  maxPieceLen: Int): (String, Double, Int) = {
    val n = w.length
    val bLp = new Array[Double](n + 1)
    val bNp = new Array[Int](n + 1)
    val bSeq = new Array[String](n + 1)
    bSeq(0) = ""
    var j = 1
    while (j <= n) {
      var found = false
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        val i = j - l
        if (bSeq(i) != null) {
          val piece = w.substring(i, j)
          val x = lp.get(piece)
          if (x.isDefined) {
            val cLp = bLp(i) + x.get
            val cNp = bNp(i) + 1
            val cSeq = if (bSeq(i).isEmpty) piece else bSeq(i) + " " + piece
            if (!found ||
                unigramBetter(cLp, cNp, cSeq, bLp(j), bNp(j), bSeq(j))) {
              bLp(j) = cLp; bNp(j) = cNp; bSeq(j) = cSeq; found = true
            }
          }
        }
        l += 1
      }
      if (!found) bSeq(j) = null
      j += 1
    }
    require(bSeq(n) != null,
      s"unigram vocab cannot segment '$w' — single-char coverage lost")
    (bSeq(n), bLp(n), bNp(n))
  }

  /** Distinct-word frequency table — the vocab-bounded artifact the
    * unigram TRAINER's EM loop runs over (the corpus is scanned ONCE,
    * here, and [[unigramTrain]] persists the result for the loop). */
  private def unigramWordTable(docs: DataFrame, textCol: String) = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
  }

  /**
   * Unigram-LM tokenizer training (the SentencePiece model, Kudo 2018) by
   * hard (Viterbi) EM — the OTHER major subword family beside BPE:
   * pieces carry probabilities and a word's tokenization is its most
   * probable segmentation, not a greedy merge replay.
   *
   *  - Seed: every ≤`maxPieceLen`-char substring occurrence over the
   *    word table, weighted by word frequency; top `seedSize` by
   *    (count, piece) plus ALL single characters (coverage floor).
   *  - E-step: Viterbi-segment each DISTINCT word (the [[viterbiSegment]]
   *    kernel, broadcast log-prob map) — hard counts weighted by word
   *    frequency. M-step: re-normalize; pieces the segmentation stopped
   *    using drop out. `iters` rounds.
   *
   * 100 TB shape: the corpus contributes exactly ONE token scan — the
   * word table is persisted for the duration of the call (the [[bpeLoop]]
   * discipline), so the seed collect and every EM round read the cache,
   * never the corpus. The returned model is a LOCAL relation built from
   * the M-step's own collected rows (the EM loop already pulls the
   * vocab-bounded counts to the driver each round to build the broadcast
   * log-prob map), so consumers pay ZERO corpus scans per action — the
   * trained tokenizer is a ≤`maxVocabCollect`-row artifact, the same
   * class as a BPE merge list. Collects are vocab-bounded and fail loud
   * at `maxVocabCollect`.
   */
  def unigramTrain(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                   seedSize: Int = 40, iters: Int = 2,
                   maxVocabCollect: Int = 200000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wt = unigramWordTable(docs, textCol).persist()
    try {
      val mp = maxPieceLen
      val sub = wt.flatMap { case (w, f) =>
        // fail LOUD past the oracle's substring-start bound (range(1, 64)):
        // a 64+-char word would seed substrings the replay never sees — the
        // silent data-dependent divergence class, caught at the word instead
        require(w.length < 64,
          s"unigram seeding bounds word length at 63 chars, got ${w.length}: " +
            s"'${w.take(32)}…' — raise the bound in BOTH the trainer and the " +
            "oracle's range(1, 64)")
        for {
          i <- 0 until w.length
          l <- 1 to math.min(mp, w.length - i)
        } yield (w.substring(i, i + l), f)
      }.toDF("piece", "f").groupBy("piece").agg(sum("f").as("cnt"))
      val top = sub.orderBy(col("cnt").desc, col("piece")).limit(seedSize)
      val v0 = top.unionByName(sub.where(length(col("piece")) === 1))
        .dropDuplicates("piece")
      def collectCounts(v: DataFrame): Array[(String, Long)] = {
        val rows = v.select(col("piece"), col("cnt").cast("long"))
          .as[(String, Long)].collect()
        require(rows.length <= maxVocabCollect,
          s"unigram vocab ${rows.length} exceeds $maxVocabCollect")
        rows
      }
      def lpMap(rows: Array[(String, Long)]): Map[String, Double] = {
        val total = rows.map(_._2).sum.toDouble
        rows.iterator.map { case (p, c) =>
          p -> Similarity.roundHalfUp(math.log(c / total), 6)
        }.toMap
      }
      var rows = collectCounts(v0)
      var lp = lpMap(rows)
      var it = 0
      while (it < iters) {
        val lpB = spark.sparkContext.broadcast(lp)
        val counts = wt.flatMap { case (w, f) =>
          viterbiSegment(w, lpB.value, mp)._1.split(" ").iterator.map((_, f))
        }.toDF("piece", "f").groupBy("piece").agg(sum("f").as("cnt"))
        rows = collectCounts(counts)
        lp = lpMap(rows)
        it += 1
      }
      // same normalization as lpMap: exact long-sum total, Math.log, 6-dp
      // HALF_UP — the values the last EM round already broadcast
      val total = rows.map(_._2).sum.toDouble
      spark.createDataFrame(rows.toSeq.map { case (p, c) =>
        (p, c, Similarity.roundHalfUp(math.log(c / total), 6))
      }).toDF("piece", "cnt", "lp")
    } finally wt.unpersist()
  }

  /**
   * Forward–backward expected piece masses for ONE word under piece
   * probabilities — soft-EM's E-step kernel. Probability space, NOT log
   * space: log-space would need cross-engine-exact `log1p`-sums, while
   * probability products/sums of exact-ratio doubles replay bit-for-bit
   * in any engine as long as the FOLD ORDER is fixed — here every α/β
   * value folds its ≤`maxPieceLen` terms in ascending piece-length
   * order, the same order the oracle's register-carrying recursive CTE
   * adds them (skipping an out-of-vocab term equals adding its 0.0 —
   * IEEE `x + 0.0 = x`). Per-OCCURRENCE expected use
   * `α(j)·p·β(j+l)/α(n)` is one fixed closed-form expression; the
   * emitted mass is 6-dp-quantized micro-units (`round(f·ec, 6)·1e6` as
   * a long), so cross-partition/cross-engine reduction is an exact
   * integer sum in any order. Fails loud if the word's total mass
   * underflows probability space (a ≫63-char word over a diffuse
   * vocabulary — the bounded-word contract already rejects those at
   * seeding).
   */
  private[llm] def softEmExpected(w: String, f: Long,
                                  p: collection.Map[String, Double],
                                  maxPieceLen: Int): Iterator[(String, Long)] = {
    val n = w.length
    if (n == 0) return Iterator.empty
    val a = new Array[Double](n + 1)
    a(0) = 1.0
    var i = 1
    while (i <= n) {
      var s = 0.0
      var l = 1
      val lm = math.min(maxPieceLen, i)
      while (l <= lm) {
        val pv = p.get(w.substring(i - l, i))
        if (pv.isDefined) s += a(i - l) * pv.get
        l += 1
      }
      a(i) = s
      i += 1
    }
    val z = a(n)
    require(z > 1e-300,
      s"soft-EM forward mass underflowed for '${w.take(32)}…' (z=$z) — " +
        "word too long / vocabulary too diffuse for probability space")
    val b = new Array[Double](n + 1)
    b(n) = 1.0
    i = n - 1
    while (i >= 0) {
      var s = 0.0
      var l = 1
      val lm = math.min(maxPieceLen, n - i)
      while (l <= lm) {
        val pv = p.get(w.substring(i, i + l))
        if (pv.isDefined) s += pv.get * b(i + l)
        l += 1
      }
      b(i) = s
      i -= 1
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var j = 0
    while (j < n) {
      var l = 1
      val lm = math.min(maxPieceLen, n - j)
      while (l <= lm) {
        val piece = w.substring(j, j + l)
        val pv = p.get(piece)
        if (pv.isDefined) {
          val ec = a(j) * pv.get * b(j + l) / z
          val m6 = Math.round(Similarity.roundHalfUp(f * ec, 6) * 1e6)
          out += ((piece, m6))
        }
        l += 1
      }
      j += 1
    }
    out.iterator
  }

  /**
   * Per-word likelihood LOSSES for removing each candidate multi-char
   * piece — SentencePiece's actual pruning criterion (Kudo 2018 §3.2):
   * for a vocabulary piece `x` occurring in word `w`,
   * `loss_w(x) = f · (ln Z − ln Z₋ₓ)` where `Z` is the word's total
   * segmentation mass and `Z₋ₓ` the mass with `x` removed — the corpus
   * log-likelihood given up if the piece is pruned. Both forwards fold
   * their ≤`maxPieceLen` terms in ascending piece-length order (skipping
   * `x` ≡ adding its 0.0 — IEEE `x + 0.0 = x`), so the oracle's
   * register-carrying recursive CTE with `piece <> x` join conditions
   * replays the doubles bit-for-bit. `Z₋ₓ > 0` always: the single-char
   * coverage floor keeps every word segmentable without any multi. Each
   * (word, piece) loss is 6-dp-quantized micro-units, so the
   * cross-partition/cross-engine reduction is an exact integer sum.
   */
  private[llm] def softEmLoss(w: String, f: Long,
                              p: collection.Map[String, Double],
                              maxPieceLen: Int): Iterator[(String, Long)] = {
    val n = w.length
    if (n == 0) return Iterator.empty
    def forward(skip: String): Double = {
      val a = new Array[Double](n + 1)
      a(0) = 1.0
      var i = 1
      while (i <= n) {
        var s = 0.0
        var l = 1
        val lm = math.min(maxPieceLen, i)
        while (l <= lm) {
          val piece = w.substring(i - l, i)
          if (piece != skip) {
            val pv = p.get(piece)
            if (pv.isDefined) s += a(i - l) * pv.get
          }
          l += 1
        }
        a(i) = s
        i += 1
      }
      a(n)
    }
    val z = forward(null)
    require(z > 1e-300,
      s"soft-EM forward mass underflowed for '${w.take(32)}…' (z=$z) — " +
        "word too long / vocabulary too diffuse for probability space")
    val lnZ = math.log(z)
    // distinct multi-char vocab pieces occurring in w, first-seen order
    val cands = scala.collection.mutable.LinkedHashSet[String]()
    var j = 0
    while (j < n) {
      var l = 2
      val lm = math.min(maxPieceLen, n - j)
      while (l <= lm) {
        val piece = w.substring(j, j + l)
        if (p.contains(piece)) cands += piece
        l += 1
      }
      j += 1
    }
    cands.iterator.map { x =>
      val m6 = Math.round(
        Similarity.roundHalfUp(f * (lnZ - math.log(forward(x))), 6) * 1e6)
      (x, m6)
    }
  }

  /**
   * SOFT-EM unigram-LM tokenizer training with a vocabulary-pruning
   * schedule — the full SentencePiece trainer shape (Kudo 2018) beside
   * [[unigramTrain]]'s hard-EM twin: the E-step accumulates
   * forward–backward EXPECTED piece masses over every segmentation
   * (not just the Viterbi one), the M-step re-normalizes, and after
   * every round the vocabulary SHRINKS — multi-char pieces ranked by
   * (mass desc, piece asc) keep only
   * `max(targetMulti, ceil(#survivors·shrink))` entries while ALL
   * single characters survive (the coverage floor that keeps every word
   * segmentable), with zero-quantized single-char masses clamped to one
   * micro-unit so coverage never divides by zero. Masses are exact
   * integer micro-units end-to-end (the [[softEmExpected]] quantization),
   * so the ranking, the pruning cut and the output replay bit-for-bit in
   * any engine. Output: `(piece, em6, lp)` — surviving pieces, expected
   * mass in micro-units, 6-dp log-probability.
   *
   * `lossPrune = true` switches the multi-char ranking from expected MASS
   * to corpus likelihood LOSS (Kudo 2018 §3.2 — SentencePiece's shipped
   * criterion): each candidate is ranked by [[softEmLoss]]'s exact
   * integer micro-nat `Σ_w f·(ln Z − ln Z₋ₓ)`, the likelihood given up if
   * it were removed, computed from the same forward tables (one extra
   * pass over the persisted WORD table, never the corpus). Probabilities
   * still renormalize from the masses; output gains a `loss6` column
   * (null on the never-prunable singles).
   *
   * 100 TB shape: the [[unigramTrain]] discipline exactly — ONE corpus
   * token scan into the persisted distinct-word table, every EM round a
   * vocab-bounded flatMap + integer-sum aggregation over it with the
   * piece probabilities broadcast, the returned model a local relation
   * built from the M-step's own collected rows.
   */
  def unigramTrainSoft(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                       seedSize: Int = 40, iters: Int = 2,
                       targetMulti: Int = 8, shrink: Double = 0.5,
                       maxVocabCollect: Int = 200000,
                       lossPrune: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wt = unigramWordTable(docs, textCol).persist()
    try {
      val mp = maxPieceLen
      val sub = wt.flatMap { case (w, f) =>
        require(w.length < 64,
          s"unigram seeding bounds word length at 63 chars, got ${w.length}: " +
            s"'${w.take(32)}…' — raise the bound in BOTH the trainer and the " +
            "oracle's range(1, 64)")
        for {
          i <- 0 until w.length
          l <- 1 to math.min(mp, w.length - i)
        } yield (w.substring(i, i + l), f)
      }.toDF("piece", "f").groupBy("piece").agg(sum("f").as("cnt"))
      val top = sub.orderBy(col("cnt").desc, col("piece")).limit(seedSize)
      val v0 = top.unionByName(sub.where(length(col("piece")) === 1))
        .dropDuplicates("piece")
      val seed = v0.select(col("piece"), col("cnt").cast("long"))
        .as[(String, Long)].collect()
      require(seed.length <= maxVocabCollect,
        s"unigram vocab ${seed.length} exceeds $maxVocabCollect")
      def probs(masses: Array[(String, Long)]): Map[String, Double] = {
        val total = masses.map(_._2).sum.toDouble
        masses.iterator.map { case (p, m) => p -> (m / total) }.toMap
      }
      // the deterministic prune: singles clamped and always kept, positive
      // multis ranked by the mode's criterion (expected MASS by default;
      // corpus likelihood LOSS when `lossPrune` — Kudo 2018 §3.2, the
      // criterion SentencePiece actually ships), ties by piece asc, keep
      // max(target, ceil(n·shrink))
      def prune(masses: Array[(String, Long)],
                loss: collection.Map[String, Long]): Array[(String, Long)] = {
        val singles = masses.filter(_._1.length == 1)
          .map { case (p, m) => (p, math.max(m, 1L)) }
        val multis = masses.filter { case (p, m) => p.length > 1 && m > 0 }
        val keep = math.max(targetMulti.toLong,
          math.ceil(multis.length * shrink).toLong).toInt
        val kept =
          if (lossPrune)
            multis.sortBy { case (p, _) => (-loss.getOrElse(p, 0L), p) }.take(keep)
          else multis.sortBy { case (p, m) => (-m, p) }.take(keep)
        singles ++ kept
      }
      var vocab = seed
      var pm = probs(vocab)
      var lastLoss: collection.Map[String, Long] = Map.empty
      var it = 0
      while (it < iters) {
        val pB = spark.sparkContext.broadcast(pm)
        val masses = wt.flatMap { case (w, f) =>
          softEmExpected(w, f, pB.value, mp)
        }.toDF("piece", "m").groupBy("piece")
          .agg(sum("m").cast("long").as("m"))
          .as[(String, Long)].collect()
        require(masses.length <= maxVocabCollect,
          s"unigram vocab ${masses.length} exceeds $maxVocabCollect")
        if (lossPrune) {
          // second pass over the PERSISTED word table (never the corpus):
          // per-piece removal losses, exact integer micro-unit reduction
          val rows = wt.flatMap { case (w, f) =>
            softEmLoss(w, f, pB.value, mp)
          }.toDF("piece", "l").groupBy("piece")
            .agg(sum("l").cast("long").as("l"))
            .as[(String, Long)].collect()
          require(rows.length <= maxVocabCollect,
            s"unigram vocab ${rows.length} exceeds $maxVocabCollect")
          lastLoss = rows.toMap
        }
        vocab = prune(masses, lastLoss)
        pm = probs(vocab)
        it += 1
      }
      val total = vocab.map(_._2).sum.toDouble
      if (lossPrune)
        spark.createDataFrame(vocab.toSeq.map { case (p, m) =>
          (p, m,
            if (p.length > 1) Some(lastLoss.getOrElse(p, 0L)) else None,
            Similarity.roundHalfUp(math.log(m / total), 6))
        }).toDF("piece", "em6", "loss6", "lp")
      else
        spark.createDataFrame(vocab.toSeq.map { case (p, m) =>
          (p, m, Similarity.roundHalfUp(math.log(m / total), 6))
        }).toDF("piece", "em6", "lp")
    } finally wt.unpersist()
  }

  /**
   * Unigram tokenization against a TRAINED piece table (`(piece, lp)`
   * rows — [[unigramTrain]]'s output or a stored artifact): per document,
   * word count, piece count, and the negative log-likelihood of its
   * Viterbi segmentation.
   *
   * 100 TB shape: the corpus is scanned exactly ONCE — the Viterbi DP
   * runs INLINE on the `(id, word)` tf rows (a typed kernel over the one
   * tf aggregation), so there is no second scan to build a word table and
   * no broadcast of a corpus-vocabulary-sized segmentation table (corpus
   * vocabulary is unbounded; the only broadcast is the TRAINED piece
   * table, bounded by `maxVocabCollect`). The DP costs
   * O(|word|·maxPieceLen) map lookups per distinct (doc, word) pair —
   * orders of magnitude under the shuffle+broadcast round-trip a
   * segment-once-join-by-word plan pays, and the repeated-word DP work is
   * bounded by the tf table the plan reads anyway. Typed kernel ⇒
   * integral id required (fails loud, [[TextHashing.requireIntegralId]]).
   */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame, maxPieceLen: Int = 4,
                    maxVocabCollect: Int = 200000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = vocab.select(col("piece"), col("lp").cast("double"))
      .as[(String, Double)].collect()
    require(rows.length <= maxVocabCollect,
      s"unigram vocab ${rows.length} exceeds $maxVocabCollect")
    TextHashing.requireIntegralId(docs, idCol, "unigramEncode")
    val idType = docs.schema(idCol).dataType
    val lpB = spark.sparkContext.broadcast(rows.toMap)
    val mp = maxPieceLen
    val tf = docs.select(col(idCol).cast("long").as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)]
    tf.map { case (id, w, f) =>
        val (_, sLp, sNp) = viterbiSegment(w, lpB.value, mp)
        (id, f, f * sNp.toLong, f * sLp)
      }.toDF("id", "tf", "pieces", "wlpsum")
      .groupBy("id")
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("pieces")).cast("long").as("n_pieces"),
        round(-sum(col("wlpsum")), 6).as("nll_sum"))
      .select(col("id").cast(idType).as(idCol), col("n_words"),
        col("n_pieces"), col("nll_sum"))
  }

  /**
   * Blocklist word-fraction filter — the UT1/RefinedWeb-style NSFW /
   * boilerplate gate: a document is kept iff the fraction of its words
   * (case-folded) on the banned list stays ≤ `maxFraction`. A FRACTION,
   * not a contains — one banned word in a long document is noise; a
   * document that is mostly banned vocabulary is the signal. The list is
   * a literal array in the plan (blocklists are KBs — they ride in the
   * task binary, no join at all), the count a per-row array expression:
   * zero shuffle, whole-stage codegen over the scan at any corpus size.
   */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      banned: Seq[String],
                      maxFraction: Double = 0.05): DataFrame = {
    val ws = split(coalesce(col(textCol), lit("")), " ")
    val bl = typedLit(banned.map(_.toLowerCase))
    docs.select(col(idCol),
        size(ws).cast("long").as("n_words"),
        size(filter(ws, w => array_contains(bl, lower(w))))
          .cast("long").as("n_banned"))
      .withColumn("banned_frac",
        round(col("n_banned").cast("double") / col("n_words"), 6))
      .withColumn("keep", col("banned_frac") <= maxFraction)
  }

  /**
   * TF-IDF keyword extraction: per document, the `topK` terms by
   * `tf · ln(N/df)` (raw tf, no length normalization — the classic
   * salience ranking for corpus exploration / topic labeling).
   * Deterministic rank order: score desc, then word asc.
   *
   * 100 TB shape: the document-frequency table is vocab-bounded and
   * BROADCASTS into the (id, word, tf) aggregate (which shuffles fixed-
   * width rows once, partial-combined map-side); the rank window
   * partitions by the many-valued doc id and WindowGroupLimit cuts at
   * `topK` before the final exchange. No corpus-wide sort anywhere.
   */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("w"))
    val tf = toks.groupBy("id", "w").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dfT), "w").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * round(log(col("n").cast("double") / col("df")), 6), 6))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("w"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("id").as(idCol), col("rank"), col("w").as("word"),
        col("tf"), col("score"))
  }

  /**
   * Token-budget-bounded mixture: within each source, documents are
   * admitted in deterministic content-hash priority order until the
   * source's cumulative token count exceeds `budget` — the "fill each
   * domain's token quota reproducibly" step of assembling a training mix.
   * One window per source partition (hash order, ties to the id — no
   * global sort, no RNG state). SCALE CAVEAT: the source alphabet is
   * small by construction, so each source's running sum is ONE window
   * task — fine while a source fits a task, a single-task sort at 100 TB.
   * [[budgetMixRanged]] is the row-identical distributed-prefix-sum twin
   * for that regime; this form stays as the small-corpus oracle shape.
   */
  def budgetMix(docs: DataFrame, idCol: String, textCol: String,
                sourceCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("pri"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null text: zero tokens and the incremental family's sentinel as the
    // priority — without it the NULL hash would sort nulls-FIRST in Spark
    // but nulls-LAST in the SQL replay, and NULL n_tokens would poison
    // every later cum_tokens in the source (and make `keep` NULL)
    val t = col(textCol)
    docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
        when(t.isNull, 0L).otherwise(size(split(t, " ")).cast("long"))
          .as("n_tokens"),
        coalesce(md5(t), lit("<null-text>")).as("pri"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .select(col("id").as(idCol), col("source"), col("n_tokens"),
        col("cum_tokens"), (col("cum_tokens") <= budget).as("keep"))
  }

  // ------------------------------------------------------------------
  // Distributed prefix-sum admission — the 100×-safe twins of the
  // window-partitioned quota family. [[budgetMix]] / [[temperatureMix]]
  // rank or running-sum through Window.partitionBy(source); the source
  // alphabet is SMALL by construction, so at 100 TB ONE task receives
  // and sorts every row of a giant source. The ranged variants split
  // each source into priority-prefix RANGES — the first two characters
  // of the md5 admission priority. A prefix of the sort key is
  // order-compatible with it (for ≥2-char strings, prefix2(a) <
  // prefix2(b) ⇒ a < b, and equal prefixes land in the same range), so:
  //   1. per-(source, range) subtotals — one tiny aggregate, ≤ S×257
  //      rows (256 hex pairs + the "<n" null-text sentinel);
  //   2. exclusive prefix-sum of the subtotals per source — a window
  //      over ≤ 257 rows per source, bounded by the RANGE alphabet, not
  //      the corpus;
  //   3. broadcast the offsets back and finish with a range-local
  //      window: each task sorts corpus/(S·256) rows, and the dial
  //      extends to more prefix chars (or recurses) if a range is still
  //      too fat.
  // The classic distributed prefix sum; outputs are row-identical to
  // the window paths (property-pinned in LlmSpec), so each pair shares
  // one oracle.
  // ------------------------------------------------------------------

  /** `base` must carry (id, source, pri, …); returns base + `p2` (the
    * priority range) and `cum` (the running `measure` in (pri, id) order
    * within source, computed range-locally + broadcast offsets). */
  private def rangedCumSum(base: DataFrame, measure: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranged = base.withColumn("p2", substring(col("pri"), 1, 2))
      .withColumn("m", measure)
    val sub = ranged.groupBy("source", "p2").agg(sum(col("m")).as("sub"))
    // ≤ 257 subtotal rows per source — the range alphabet, not the corpus
    val offW = Window.partitionBy("source").orderBy("p2")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sub
      .withColumn("off", coalesce(sum(col("sub")).over(offW), lit(0L)))
      .select("source", "p2", "off")
    val inW = Window.partitionBy("source", "p2").orderBy(col("pri"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets), Seq("source", "p2"))
      .withColumn("cum", sum(col("m")).over(inW) + col("off"))
  }

  /** Row-identical twin of [[budgetMix]] whose running token sum is a
    * distributed prefix sum over priority ranges — no per-source
    * single-task sort; the plan shape that survives 100×. */
  def budgetMixRanged(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, budget: Long): DataFrame = {
    val t = col(textCol)
    val base = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      when(t.isNull, 0L).otherwise(size(split(t, " ")).cast("long"))
        .as("n_tokens"),
      coalesce(md5(t), lit("<null-text>")).as("pri"))
    rangedCumSum(base, col("n_tokens"))
      .select(col("id").as(idCol), col("source"), col("n_tokens"),
        col("cum").as("cum_tokens"), (col("cum") <= budget).as("keep"))
  }

  /** Row-identical twin of [[temperatureMix]]: the same driver-exact
    * α-quota apportionment, but the admission rank is the ranged prefix
    * sum of row counts (`pos` = running count in (pri, id) order), so no
    * source ranks through a single window task. */
  def temperatureMixRanged(docs: DataFrame, idCol: String, textCol: String,
                           sourceCol: String, alpha: Double, n: Int): DataFrame = {
    val quotas = alphaQuotas(docs, sourceCol, alpha, n)
    val base = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      coalesce(md5(col(textCol)), lit("<null-text>")).as("pri"))
    rangedCumSum(base, lit(1L))
      .join(broadcast(quotas), Seq("source"))
      .where(col("cum") <= col("quota"))
      .select(col("id").as(idCol), col("source"), col("cum").as("pos"),
        col("quota"))
  }

  /**
   * BM25 keyword retrieval (Robertson/Sparck-Jones, the `+1` idf variant
   * Lucene uses so scores stay positive): top-`k` documents per query by
   * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
   * `idf = ln((N−df+0.5)/(df+0.5) + 1)`. `queries` is a tiny
   * (query_id, qtext) table; terms are whitespace tokens, matched exactly.
   *
   * 100 TB shape: the token stream is pruned by a BROADCAST left-semi join
   * against the distinct query-term set BEFORE the tf aggregation — the
   * only corpus-wide shuffle carries (id, dl, term) for matching tokens
   * only, and tf/df are partial-aggregable. Corpus stats (N, avgdl) come
   * from one map-side-combined agg over per-doc lengths; df derives from
   * the already-pruned tf table. Scoring joins are all broadcast
   * (query terms × df × stats), and the final per-query top-k is a
   * WindowGroupLimit — no global sort.
   *
   * Determinism: each term's contribution is rounded to 6 decimals BEFORE
   * the per-(query, doc) sum, making the reduction order-independent
   * (6-dp values scaled by 1e6 are integers; their double sum is exact
   * far beyond any real query length), so the score hash-matches an
   * engine that sums in any other order; the summed score is rounded
   * again for presentation.
   */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Impl(docs, idCol, textCol, queries, k, k1, b, hintBroadcast = true)

  /** [[bm25]] with the query-side joins left to Catalyst instead of
    * broadcast-hinted — the table-vs-table retrieval shape: at small Q
    * AQE still broadcasts the term tables, at table-scale Q the
    * term-keyed joins become co-partitioned shuffle joins (one exchange
    * on `term`, reused across the qex and df joins) and nothing is
    * pinned to driver/executor broadcast memory. Scores are identical to
    * [[bm25]] — only the join strategy floats. */
  def bm25Distributed(docs: DataFrame, idCol: String, textCol: String,
                      queries: DataFrame, k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Impl(docs, idCol, textCol, queries, k, k1, b, hintBroadcast = false)

  private def bm25Impl(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, k: Int,
                       k1: Double, b: Double, hintBroadcast: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hinted(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    val toks = spreadIfNarrow(docs.select(col(idCol).as("id"), col(textCol)),
        col("id"))
      .select(col("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"), size(col("ws")).cast("double").as("dl"),
        explode(col("ws")).as("term"))
    val doclens = docs.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("double").as("dl"))
    val stats = doclens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qex = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val tf = toks
      .join(hinted(qex.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("id", "dl", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val contrib = tf
      .join(hinted(qex), Seq("term"))
      .join(hinted(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c", round(col("idf") * col("tf") * (k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("id"))
    contrib.groupBy("query_id", "id")
      .agg(round(sum(col("c")), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("id").as(idCol), col("rank"), col("score"))
  }

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009) of two ranked retrieval
   * lists: `score(d) = Σ_lists 1/(c + rank_list(d))`, a document missing
   * from a list contributes nothing there. The standard calibration-free
   * way to hybridize keyword (BM25) and embedding (kNN) retrieval — only
   * RANKS cross the boundary, so the two scorers' incomparable score
   * scales never mix. Inputs are `(query_id, doc_id, rank)` top-k tables;
   * the fusion is one full-outer join + one window over ≤ 2·Q·k rows —
   * its cost is independent of corpus size because both inputs are
   * already cut to top-k. Each reciprocal term is a fixed rational of
   * small integers and the sum has ≤ 2 addends in a fixed
   * (a-then-b) order, so the 6-dp score is engine-exact. Ties break to
   * the smaller doc id, the house rank rule.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, k: Int,
              c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(c >= 0, s"RRF constant must be >= 0, got $c")
    val fa = a.select(col("query_id"), col(idCol), col("rank").as("rank_a"))
    val fb = b.select(col("query_id"), col(idCol), col("rank").as("rank_b"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col(idCol))
    fa.join(fb, Seq("query_id", idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_a")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_b")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("rrf_score"),
        col("rank_a"), col("rank_b"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
   * language, rank documents by per-token LM negative log-likelihood
   * (log-perplexity — monotone in perplexity, exp-free so cross-engine
   * parity is exact) and cut the ranking into `n` equal-mass buckets:
   * 1 = head (best), `n` = tail; CCNet keeps head+middle for training.
   * Input is a scored table shaped like [[lmScoreFromModel]]'s output
   * joined with a language column — corpus text is NOT re-read; at
   * 100 TB the input is the stored LM-score table and the one shuffle
   * carries `(id, lang, one double)` per doc into per-language window
   * partitions. Docs with zero tokens have no perplexity and are
   * dropped, as CCNet drops empty docs after tokenization. `ntile`
   * splits ties by the (ppl, id) order, identical in Spark and DuckDB
   * (first `rows mod n` buckets take the extra row).
   *
   * `ppl_tok` is EXACT-INTEGER 6-dp arithmetic: the 6-dp `nll_sum` is an
   * integer in micro-nats, and `round(nll/n_words, 6)` as a float op
   * lands exactly on .5e-6 boundaries whenever `n_words` divides evenly
   * (e.g. 2.765957/2) — the cross-engine float-round divergence class —
   * so the per-token value is the half-up INTEGER division
   * `(2·nll6 + n_words) div (2·n_words)` unscaled, the same op in any
   * engine (caught by the tri-scale gate at sf0.1, round 11).
   *
   * SCALE CAVEAT: languages are a handful of giant keys, so the `ntile`
   * window makes ONE task sort every doc of a language —
   * [[pplBucketsThreshold]] is the broadcast-threshold twin for that
   * regime; this form stays as the small-corpus oracle shape.
   */
  /** 6-dp micro-nat quantization of `nll_sum` with the NON-NEGATIVITY
    * contract enforced in-plan (r11 ADVICE): the exact half-up division
    * `(2·nll6 + n) div (2·n)` is only half-up for `nll6 ≥ 0`, and a
    * scorer emitting a positive total log-prob (an unnormalized model)
    * would make Spark's truncate-toward-zero `div` and DuckDB's `//`
    * disagree — fail LOUD instead of silently bucketing on divergent
    * values. `assert_true` returns null when the contract holds, so the
    * coalesce is free in the codegen'd hot path. */
  private def checkedNll6(nll: Column): Column = coalesce(
    assert_true(nll >= 0.0,
      lit("pplBuckets requires non-negative nll_sum (−Σ ln p): the exact " +
        "half-up ppl_tok division assumes nll6 ≥ 0 — a scorer emitted a " +
        "positive total log-probability")).cast("long"),
    round(nll * 1e6, 0).cast("long"))

  def pplBuckets(scored: DataFrame, idCol: String, langCol: String,
                 n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"need at least 2 buckets, got $n")
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("ppl_tok"), col(idCol))
    scored.where(col("n_words") > 0)
      .withColumn("nll6", checkedNll6(col("nll_sum")))
      .withColumn("ppl_tok",
        expr("(2 * nll6 + n_words) div (2 * n_words)").cast("double") / 1e6)
      .withColumn("bucket", ntile(n).over(w).cast("long"))
      .withColumn("bucket_label",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === n, "tail").otherwise("middle"))
      .select(col(idCol), col(langCol), col("n_words"), col("ppl_tok"),
        col("bucket"), col("bucket_label"))
  }

  /**
   * Broadcast-threshold twin of [[pplBuckets]] — the shape that survives
   * 100×: instead of sorting every doc of a language through one `ntile`
   * window task, compute per-language tercile THRESHOLDS by exact
   * order statistics on the 6-dp-rounded `ppl_tok` and assign buckets by
   * comparison.
   *
   *   1. `(lang, ppl_tok) → cnt` — one map-side-combined aggregate; the
   *      distinct-value table is bounded by the 6-dp rounding × the score
   *      range, NOT the corpus (the [[bm25]] integer-scaling argument's
   *      structural cousin);
   *   2. cumulative counts per language over the VALUE table (a window
   *      over the bounded value alphabet);
   *   3. thresholds `t_b` = the value at `ntile` boundary rank
   *      `c_b = b·(N div n) + min(b, N mod n)` — the ≤ L×(n−1) threshold
   *      table broadcasts back;
   *   4. `bucket = 1 + Σ_b (ppl_tok > t_b)` — a per-row comparison.
   *
   * Tie semantics: the cut is VALUE-pure — every doc sharing a boundary
   * value takes the EARLIER bucket, where `ntile` would split the tie by
   * doc id to keep masses exactly equal. The two paths agree on every doc
   * whose value is not a straddling boundary tie (property-pinned in
   * LlmSpec); at corpus scale a per-value tie crossing a tercile boundary
   * moves the boundary by the tie width, the standard
   * threshold-from-statistics behavior (CCNet itself cuts by thresholds
   * estimated from a sample, not by global rank).
   */
  def pplBucketsThreshold(scored: DataFrame, idCol: String, langCol: String,
                          n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"need at least 2 buckets, got $n")
    val p = scored.where(col("n_words") > 0)
      .withColumn("nll6", checkedNll6(col("nll_sum")))
      .withColumn("ppl_tok",
        expr("(2 * nll6 + n_words) div (2 * n_words)").cast("double") / 1e6)
    val vc = p.groupBy(col(langCol), col("ppl_tok"))
      .agg(count(lit(1)).as("cnt"))
    val nr = vc.groupBy(col(langCol)).agg(sum(col("cnt")).as("n_rows"))
    val cumW = Window.partitionBy(col(langCol)).orderBy(col("ppl_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vc.withColumn("cum", sum(col("cnt")).over(cumW))
      .join(broadcast(nr), Seq(langCol))
    // c_b ≤ N for b < n, and cum reaches N, so every t_b is defined
    val thCols = (1 until n).map { b =>
      min(when(col("cum") >=
          lit(b.toLong) * expr(s"n_rows div $n") +
          least(lit(b.toLong), pmod(col("n_rows"), lit(n.toLong))),
        col("ppl_tok"))).as(s"t$b")
    }
    val th = cum.groupBy(col(langCol)).agg(thCols.head, thCols.tail: _*)
    val bucket = (1 until n).map(b =>
        when(col("ppl_tok") > col(s"t$b"), 1L).otherwise(0L))
      .reduce(_ + _) + lit(1L)
    p.join(broadcast(th), Seq(langCol))
      .withColumn("bucket", bucket)
      .withColumn("bucket_label",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === n, "tail").otherwise("middle"))
      .select(col(idCol), col(langCol), col("n_words"), col("ppl_tok"),
        col("bucket"), col("bucket_label"))
  }

  /** Feature-hash bucket count for [[dsirWeights]] — small enough that
    * the per-bucket ratio table is always a broadcast, large enough that
    * hash collisions stay rare on real vocabularies (the DSIR paper uses
    * hashed n-grams for exactly this boundedness). */
  val DsirBuckets = 1024

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): estimate unigram bucket
   * distributions of a TARGET slice (`isTarget`, e.g. a trusted
   * high-quality domain) and the RAW corpus over [[DsirBuckets]] hashed
   * word features, then score every document by its summed per-token
   * log-likelihood ratio `Σ_w log(p_target(h(w)) / p_raw(h(w)))` —
   * documents that look like the target get large weights. Laplace
   * (+1 over buckets) smoothing keeps both distributions strictly
   * positive. Plan: one token scan feeds one bucket-bounded hash
   * aggregation per distribution (map-side combined; the ratio table is
   * ≤ [[DsirBuckets]] rows, broadcast), then per-(doc, bucket) counts
   * join the broadcast ratios and reduce per doc — the corpus shuffles
   * hashed-bucket COUNTS, never text. Each distinct bucket's log-ratio
   * is rounded to 6 dp BEFORE the count-weighted sum and the sum runs in
   * exact DECIMAL, so the reduction is order-independent across engines
   * (the [[bm25]] integer-scaling argument). Null-text docs carry no
   * tokens and drop out, matching the SQL replay.
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame =
    dsirWeightsFromRatios(docs, idCol, textCol,
      dsirRatios(docs, idCol, textCol, isTarget))

  /** The DSIR per-bucket log-likelihood-ratio table `(bucket, log_ratio)`
    * — the trained ARTIFACT of the construction (exactly [[DsirBuckets]]
    * rows): estimate it once from a corpus snapshot, store it, and score
    * any batch against the stored table ([[dsirWeightsFromRatios]])
    * without re-aggregating the corpus — the `lm_model`/`clf_model`
    * production pattern. The table is TOTAL over the bucket domain: a
    * bucket no snapshot token hashed to still gets its Laplace-smoothed
    * floor ratio `log((1/(tot_t+B)) / (1/(tot_raw+B)))`, so a FUTURE
    * batch with novel vocabulary scores those tokens at the floor
    * instead of silently dropping them from the sum (the observed-only
    * table made that reachable on any batch with unseen words). Laplace
    * (+1 over buckets) smoothing keeps both distributions strictly
    * positive; each ratio rounds to 6 dp and is carried as DECIMAL so
    * downstream sums are order-independent. */
  def dsirRatios(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column): DataFrame = {
    val b = DsirBuckets
    val spark = docs.sparkSession
    val toks = docs.where(col(textCol).isNotNull)
      .select(isTarget.as("is_target"),
        explode(split(col(textCol), " ")).as("word"))
      .select(col("is_target"),
        pmod(TextHashing.md5Long60(col("word")), lit(b.toLong)).as("bucket"))
    val dist = toks.groupBy("bucket").agg(
      count(lit(1)).cast("double").as("cnt_raw"),
      sum(when(col("is_target"), 1L).otherwise(0L)).cast("double").as("cnt_t"))
    // full bucket spine: unobserved buckets carry zero counts and land on
    // the smoothed floor ratio (adding zeros leaves the totals exact)
    val full = spark.range(b).select(col("id").as("bucket"))
      .join(dist, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("cnt_raw"), lit(0.0)).as("cnt_raw"),
        coalesce(col("cnt_t"), lit(0.0)).as("cnt_t"))
    val tots = full.agg(sum(col("cnt_raw")).as("tot_raw"), sum(col("cnt_t")).as("tot_t"))
    full.crossJoin(broadcast(tots))
      .withColumn("log_ratio",
        round(log(((col("cnt_t") + 1.0) / (col("tot_t") + b.toDouble)) /
                  ((col("cnt_raw") + 1.0) / (col("tot_raw") + b.toDouble))), 6)
          .cast("decimal(20,6)"))
      .select(col("bucket"), col("log_ratio"))
  }

  /** Score documents against a (possibly stored) DSIR ratio table: one
    * token scan → per-(doc, bucket) counts → broadcast ratio join →
    * exact-DECIMAL per-doc reduction. The corpus shuffles hashed-bucket
    * COUNTS, never text. The join is an inner join that cannot drop
    * rows: [[dsirRatios]] tables are total over the bucket domain
    * (every `pmod` image has a row, novel vocabulary scores at the
    * smoothed floor). */
  def dsirWeightsFromRatios(docs: DataFrame, idCol: String, textCol: String,
                            ratios: DataFrame): DataFrame = {
    val b = DsirBuckets
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("word"))
      .select(col("id"),
        pmod(TextHashing.md5Long60(col("word")), lit(b.toLong)).as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("c"))
      .join(broadcast(ratios.select(col("bucket"), col("log_ratio"))), Seq("bucket"))
      .groupBy("id")
      .agg(sum(col("c") * col("log_ratio")).as("wsum"))
      .select(col("id").as(idCol),
        col("wsum").cast("double").as("dsir_weight"))
  }

  /**
   * DSIR resampling — Gumbel-top-k over the importance weights: each doc
   * draws a deterministic content-hash Gumbel `g = -ln(-ln(u))`,
   * `u = (md5_60(text) mod 10^6 + 0.5)/10^6`, and the `n` largest
   * `weight + g` win — without-replacement sampling proportional to
   * `exp(weight)` (the Gumbel-max trick), reproducible row-for-row with
   * no RNG state, the house [[mixtureSample]] determinism pattern. The
   * cut is one `TakeOrderedAndProject` over (key desc, id) — a k-bounded
   * combine, no global sort and no single-partition window.
   */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, n: Int): DataFrame = {
    val u = (pmod(TextHashing.md5Long60(col(textCol)), lit(1000000L))
      .cast("double") + 0.5) / 1000000.0
    val gum = docs.where(col(textCol).isNotNull)
      .select(col(idCol), round(-log(-log(u)), 6).as("gumbel"))
    dsirWeights(docs, idCol, textCol, isTarget)
      .join(gum, Seq(idCol))
      .withColumn("sample_key", round(col("dsir_weight") + col("gumbel"), 6))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(n)
      .select(col(idCol), col("dsir_weight"), col("gumbel"), col("sample_key"))
  }

  // ------------------------------------------------------------------
  // BPE tokenizer training — the classic reduction: train on the WORD-
  // FREQUENCY table (one corpus scan, one hash shuffle keyed on the
  // word; every later pass touches only distinct words × freq, the
  // standard corpus-size-independent BPE practice). A word's
  // tokenization is represented as a space-joined token string with
  // sentinel boundaries (" c1 c2 ... "); applying a merge is the
  // CLASSIC token-level scan ([[graft.functions.BpeExpressions]]) —
  // left-to-right over the token array, continuing after each merged
  // pair — NOT a string replace of " L R " (which consumes the shared
  // sentinel space: `abab` would under-merge to [ab, a, b]). The DuckDB
  // oracle replays the same scan as a list_reduce fold over the split
  // tokens, so the loop stays SQL-replayable. The merge list is the
  // only mutable state and it lives on the driver (one bounded collect
  // per ROUND — plans stay flat, no lineage growth, no persisted
  // state). Rounds are BATCHED for vocabulary scale: each scan selects
  // the top-B pairs that are mutually token-disjoint (no shared L, R,
  // or merged token — a greedy-compatible independent set whose counts
  // are invariant under applying the others), so a 32k-merge vocabulary
  // needs ~1k scans, not 32k. Divergence rule vs one-at-a-time greedy:
  // batched selection equals the sequential greedy chain unless a pair
  // CREATED by an earlier merge in the batch (one involving its merged
  // token) would have outranked a later selection at that point — on
  // such corpora the batched ranks are still deterministic, just not
  // the greedy chain (LlmSpec pins both sides of this rule).
  // Simplification vs production BPE: plain whitespace pre-tokenization
  // and no end-of-word marker; characters are regex '.' codepoints
  // (BMP — identical in both engines).
  // ------------------------------------------------------------------

  /** `(w, s, freq)`: distinct words with counts, `s` the space-joined
    * character tokenization with sentinel boundaries. */
  private def bpeWordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"),
        concat(lit(" "),
          array_join(regexp_extract_all(col("w"), lit("."), lit(0)), " "),
          lit(" ")).as("s"),
        col("freq"))

  /** Frequency of every adjacent token pair (`"L R"`), weighted by word
    * frequency — partial+final hash agg, map-side combined. */
  private def bpePairCounts(wf: DataFrame): DataFrame =
    wf.withColumn("toks", split(trim(col("s")), " "))
      .where(size(col("toks")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))

  /** Candidate pool per round: the top `candidateFactor × batch` pairs by
    * `(cnt DESC, pair ASC)` are collected and greedily filtered for
    * disjointness. Part of the algorithm definition (the oracle uses the
    * same pool size), not a tuning knob. */
  private val CandidateFactor = 4

  /** Greedy independent-set selection over the collected candidate pool:
    * walk pairs in `(cnt DESC, pair ASC)` order, keep a pair when none of
    * `{L, R, LR}` was touched by an earlier keep this round, stop at
    * `batch`. Disjointness over the MERGED token too: a merge neither
    * consumes an adjacency another keep counts on (that would share L or
    * R) nor creates one another keep would see (that would involve its
    * merged token), so each kept pair's scan-time count is its true count
    * at application time and in-batch application order is immaterial. */
  private def selectDisjoint(top: Seq[(String, Long)],
                             batch: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet[String]()
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val it = top.iterator
    while (it.hasNext && out.size < batch) {
      val (pair, cnt) = it.next()
      val sp = pair.indexOf(' ')
      val l = pair.substring(0, sp); val r = pair.substring(sp + 1)
      if (!used(l) && !used(r) && !used(l + r)) {
        used += l; used += r; used += (l + r)
        out += ((l, r, cnt))
      }
    }
    out.toSeq
  }

  /** Run the batched greedy loop: per round, ONE pair-count job over the
    * cached word table, a bounded collect of the candidate pool, greedy
    * disjoint selection of up to `batch` merges (ties to the
    * lexicographically smallest pair — deterministic and engine-portable
    * under binary collation), and one compiled [[BpeExpressions.BpeApply]]
    * projection applying the whole batch. `batch = 1` IS the classic
    * one-at-a-time greedy chain. Returns the merge records and the final
    * word table. Stops early if the corpus runs out of pairs (merge list
    * shorter than requested — the SQL replay is only defined while pairs
    * remain). `rounds = ceil(merges / batch)`; the per-round cap is
    * `batch` (callers keep `batch | merges`, so the global budget never
    * truncates a round — the property the SQL replay's fixed per-round
    * cap relies on). */
  private def bpeLoop(docs: DataFrame, textCol: String, merges: Int,
                      batch: Int): (Seq[(Long, String, String, String, Long)], DataFrame) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    require(merges % batch == 0,
      s"batch ($batch) must divide merges ($merges): the oracle replay uses " +
        "a fixed per-round cap, so a truncated final round would diverge")
    // the base word table is scanned once per round (pair counts) plus by
    // the caller — persist it for the duration of the call so the corpus
    // scan + word shuffle run ONCE, not once per round; every round's
    // merge apply is a narrow projection on top. Unpersisted before
    // returning (the final word table is re-derived lazily from the
    // cold base by the returned plan — callers keep a flat, cache-free
    // lineage, and the purity pin holds).
    val wf0 = bpeWordTable(docs, textCol)
    val cached = wf0.persist()
    try {
      var wf = cached
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
      val rounds = merges / batch
      var round = 1
      var exhausted = false
      val roundBatches = scala.collection.mutable.ArrayBuffer[Seq[(String, String)]]()
      while (round <= rounds && !exhausted) {
        val top = bpePairCounts(wf)
          .orderBy(col("cnt").desc, col("pair"))
          .limit(CandidateFactor * batch).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        if (top.isEmpty) exhausted = true
        else {
          // non-empty pool always yields >= 1 keep (round-local used set
          // starts empty), so the loop makes progress every round
          val selected = selectDisjoint(top, batch)
          selected.foreach { case (l, r, cnt) =>
            out += (((out.size + 1).toLong, l, r, l + r, cnt))
          }
          val ms = selected.map { case (l, r, _) => (l, r) }
          roundBatches += ms
          wf = wf.withColumn("s", BpeExpressions.bpeApply(col("s"), ms))
          round += 1
        }
      }
      // rebuild the returned plan over the UNCACHED base so consumers are
      // independent of this call's cache lifetime
      val finalWf = roundBatches.foldLeft(wf0) { (df, ms) =>
        df.withColumn("s", BpeExpressions.bpeApply(col("s"), ms))
      }
      (out.toSeq, finalWf)
    } finally cached.unpersist()
  }

  /** The learned merge table `(rank, lhs, rhs, merged, cnt)` — `cnt` the
    * pair's weighted frequency at the start of its selection round (for
    * `batch = 1` that is exactly the classic greedy count; for larger
    * batches the disjointness rule keeps it the true application-time
    * count too). */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
               batch: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, textCol, merges, batch)._1
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
  }

  /** Word-table size guard for [[bpeTrainDelta]]'s driver-side training —
    * distinct words, the standard in-memory operating table of production
    * BPE trainers. At this bound the driver holds roughly a few GB (per
    * word: the token array plus its share of the pair-count map and the
    * O(occurrences) inverted index) — raise deliberately WITH driver
    * memory, or pre-filter rare words (`min_frequency`) upstream. */
  val BpeDeltaMaxWords = 5000000

  /**
   * Delta-maintained BPE training — the production trainer's shape
   * (HuggingFace tokenizers / the original Sennrich et al. 2016
   * implementation): pair counts are UPDATED incrementally between merge
   * rounds instead of re-counted from the corpus word table per scan.
   * Only words containing a just-applied merge can change any pair count,
   * so per round the work is O(affected words × their tokens), not
   * O(all distinct words × tokens) — the property that makes a
   * 32k-vocabulary training run tractable (the batched re-count loop in
   * [[bpeTrain]] costs ~1k full pair-count scans at batch 32; this costs
   * ONE distributed scan total).
   *
   * Selection semantics are IDENTICAL to [[bpeTrain]] — same candidate
   * pool (`CandidateFactor × batch` by `(cnt DESC, pair ASC)` under
   * binary/UTF-8 collation), same greedy token-disjoint batch filter,
   * same per-round cap, same early stop on pair exhaustion, and the
   * per-word merge application delegates to the same compiled kernel
   * ([[graft.functions.BpeExpressions.applyMerges]]) — so the learned
   * merge list is equal row-for-row (property-pinned in LlmSpec across
   * generated corpora and batch sizes), and the [[bpeTrain]] SQL oracle
   * replays this trainer unchanged.
   *
   * Distribution contract: the corpus is scanned ONCE (word-frequency
   * build — one hash shuffle keyed on the word); training then runs on
   * the collected distinct-word table, the vocab-scale artifact every
   * real BPE trainer holds in memory (Sennrich's `learn_bpe`, HF
   * `tokenizers`). At 100 TB the distinct-\S+-word table after the
   * count shuffle is tens of millions of rows — bounded-loud at
   * [[BpeDeltaMaxWords]] (see its sizing note); pre-filter rare words
   * upstream (the standard `min_frequency` practice) before handing the
   * corpus here, or raise the bound with the driver's memory.
   */
  def bpeTrainDelta(docs: DataFrame, textCol: String, merges: Int,
                    batch: Int = 1,
                    maxWords: Int = BpeDeltaMaxWords): DataFrame = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    require(merges % batch == 0,
      s"batch ($batch) must divide merges ($merges): the oracle replay uses " +
        "a fixed per-round cap, so a truncated final round would diverge")
    val spark = docs.sparkSession
    import spark.implicits._
    val collected = bpeWordTable(docs, textCol)
      .select(col("s"), col("freq")).limit(maxWords + 1).collect()
    if (collected.length > maxWords)
      throw new IllegalStateException(
        s"bpeTrainDelta: distinct-word table exceeds maxWords=$maxWords — " +
          "pre-filter rare words (min-frequency) or raise the bound")
    val words: Array[Array[String]] =
      collected.map(_.getString(0).trim.split(" ").filter(_.nonEmpty))
    val freqs: Array[Long] = collected.map(_.getLong(1))
    val out = trainDeltaInMemory(words, freqs, merges, batch)
    out.toSeq.toDF("rank", "lhs", "rhs", "merged", "cnt")
  }

  /** UTF-8 binary string order — Spark's `UTF8String` comparator and
    * DuckDB's binary collation, so driver-side candidate ranking matches
    * the distributed `orderBy(cnt DESC, pair)` byte for byte. Allocation-
    * free: UTF-16 code-unit comparison equals code-point (= UTF-8 byte)
    * order except that BMP chars in [0xE000, 0xFFFF] sort BELOW
    * surrogate-encoded supplementary code points. The standard ICU fixup
    * applies at the first differing unit: shift [0xE000, 0xFFFF] down by
    * 0x800 and surrogates up by 0x2000, which maps surrogates ABOVE every
    * BMP key while preserving order within each group — a plain
    * `+0x2000` on surrogates alone is NOT enough (0xD800+0x2000 = 0xF800
    * still sorts below 0xF801..0xFFFF BMP chars; a property test pins
    * this comparator against real UTF-8 byte comparison). */
  private[llm] def utf8Cmp(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) {
        def key(c: Char): Int =
          if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c.toInt
        return key(ca) - key(cb)
      }
      i += 1
    }
    a.length - b.length
  }

  /** The in-memory delta-maintained trainer core: mutable pair counts +
    * a pair→words inverted index; per round, rank/select as [[bpeLoop]]
    * does, apply the batch to ONLY the affected words (shared compiled
    * kernel), and fold each changed word's pair-multiset diff into the
    * counts. Exposed package-private for the LlmSpec equivalence
    * property. */
  private[llm] def trainDeltaInMemory(
      words: Array[Array[String]], freqs: Array[Long], merges: Int,
      batch: Int): Seq[(Long, String, String, String, Long)] = {
    val pairCnt = scala.collection.mutable.HashMap[String, Long]()
    // inverted index pair → word ids. HashSet[Int], NOT BitSet: a BitSet
    // costs O(max word index / 8) bytes PER PAIR (a rare pair seen only
    // in a high-index word would pay for the whole index range), so total
    // memory would scale pairs × words; hash sets cost O(occurrences),
    // bounded by the total token count of the distinct-word table
    val pairWords = scala.collection.mutable.HashMap[String, scala.collection.mutable.HashSet[Int]]()
    def pairsOf(toks: Array[String]): scala.collection.mutable.HashMap[String, Int] = {
      val m = scala.collection.mutable.HashMap[String, Int]()
      var j = 0
      while (j < toks.length - 1) {
        val p = toks(j) + " " + toks(j + 1)
        m.update(p, m.getOrElse(p, 0) + 1)
        j += 1
      }
      m
    }
    var i = 0
    while (i < words.length) {
      pairsOf(words(i)).foreach { case (p, mult) =>
        pairCnt.update(p, pairCnt.getOrElse(p, 0L) + mult.toLong * freqs(i))
        pairWords.getOrElseUpdate(p, scala.collection.mutable.HashSet[Int]()) += i
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    val rounds = merges / batch
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      if (pairCnt.isEmpty) exhausted = true
      else {
        // the same candidate pool the distributed loop collects — top
        // CandidateFactor×batch by (cnt DESC, pair ASC/UTF-8), selected
        // with a bounded min-heap (O(P log pool), not a full O(P log P)
        // sort: the per-round ranking is the delta trainer's only
        // all-pairs pass, so it must stay cheap at production pair
        // counts)
        val poolSize = CandidateFactor * batch
        val worstFirst = new java.util.Comparator[(String, Long)] {
          def compare(x: (String, Long), y: (String, Long)): Int =
            if (x._2 != y._2) java.lang.Long.compare(x._2, y._2)
            else utf8Cmp(y._1, x._1)
        }
        val heap = new java.util.PriorityQueue[(String, Long)](poolSize + 1, worstFirst)
        pairCnt.foreach { kv =>
          if (heap.size < poolSize) heap.add(kv)
          else if (worstFirst.compare(kv, heap.peek()) > 0) {
            heap.poll(); heap.add(kv)
          }
        }
        val pool = heap.toArray(new Array[(String, Long)](heap.size)).toSeq
          .sortWith { case ((p1, c1), (p2, c2)) =>
            if (c1 != c2) c1 > c2 else utf8Cmp(p1, p2) < 0 }
        val selected = selectDisjoint(pool, batch)
        val lhsArr = selected.map(_._1).toArray
        val rhsArr = selected.map(_._2).toArray
        // transient per-round union: ONE BitSet (O(max index / 8) once,
        // not per pair) whose sorted iteration keeps updates deterministic
        val affected = scala.collection.mutable.BitSet()
        selected.foreach { case (l, r, _) =>
          pairWords.get(l + " " + r).foreach(affected ++= _) }
        affected.foreach { wi =>
          val oldToks = words(wi); val f = freqs(wi)
          val newToks = graft.functions.BpeExpressions
            .applyMerges(" " + oldToks.mkString(" ") + " ", lhsArr, rhsArr)
            .trim.split(" ")
          val oldP = pairsOf(oldToks); val newP = pairsOf(newToks)
          (oldP.keySet ++ newP.keySet).foreach { p =>
            val d = newP.getOrElse(p, 0) - oldP.getOrElse(p, 0)
            if (d != 0) {
              val c = pairCnt.getOrElse(p, 0L) + d.toLong * f
              if (c <= 0L) pairCnt.remove(p) else pairCnt.update(p, c)
            }
            if (newP.contains(p) && !oldP.contains(p))
              pairWords.getOrElseUpdate(p, scala.collection.mutable.HashSet[Int]()) += wi
            else if (oldP.contains(p) && !newP.contains(p))
              pairWords.get(p).foreach { s =>
                s -= wi; if (s.isEmpty) pairWords.remove(p)
              }
          }
          words(wi) = newToks
        }
        selected.foreach { case (l, r, cnt) =>
          out += (((out.size + 1).toLong, l, r, l + r, cnt))
        }
        round += 1
      }
    }
    out.toSeq
  }

  /** Apply the learned tokenizer back to the corpus: per document, word
    * count, base (character) token count, and BPE token count after
    * `merges` rounds — the compression the tokenizer buys. One explode +
    * one join on the word (the word table is the small side at training
    * scale; at 100 TB vocabularies it is a plain hash join on the word
    * key) + one partial+final agg. Documents with no words produce no
    * row (both engines). */
  def bpeDocTokens(docs: DataFrame, idCol: String, textCol: String,
                   merges: Int, batch: Int = 1): DataFrame = {
    val (_, wf) = bpeLoop(docs, textCol, merges, batch)
    docTokensFromWordTable(docs, idCol, textCol,
      wf.select(col("w"),
        size(split(trim(col("s")), " ")).as("n_tok"),
        length(col("w")).as("n_chars")))
  }

  /**
   * Tokenize against a TRAINED merge list (the rank-ordered `(lhs, rhs)`
   * rows [[bpeTrain]] emits — the artifact a store keeps so tokenization
   * never re-pays training): the distinct-word table is rebuilt from the
   * input, each word's initial character segmentation replays every merge
   * in rank order through the compiled [[graft.functions.BpeExpressions]]
   * scan. Applying the stored list in order reproduces the training-time
   * word table exactly — batch rounds select token-disjoint pairs, so
   * sequential replay equals the round's simultaneous application
   * (spec-pinned equal to [[bpeDocTokens]]). Output identical schema.
   */
  def bpeDocTokensFromMerges(docs: DataFrame, idCol: String, textCol: String,
                             merges: Seq[(String, String)]): DataFrame = {
    val wordTok = docs
      .select(explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("w"))
      .distinct()
      .select(col("w"),
        concat(lit(" "),
          array_join(regexp_extract_all(col("w"), lit("."), lit(0)), " "),
          lit(" ")).as("s0"))
      .select(col("w"),
        BpeExpressions.bpeApply(col("s0"), merges).as("s"))
      .select(col("w"),
        size(split(trim(col("s")), " ")).as("n_tok"),
        length(col("w")).as("n_chars"))
    docTokensFromWordTable(docs, idCol, textCol, wordTok)
  }

  /** Shared per-doc aggregation over a `(w, n_tok, n_chars)` word table. */
  private def docTokensFromWordTable(docs: DataFrame, idCol: String,
                                     textCol: String, wordTok: DataFrame): DataFrame =
    docs.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("w"))
      .join(wordTok, "w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).cast("long").as("n_base_tokens"),
        sum(col("n_tok")).cast("long").as("n_bpe_tokens"))

  // ------------------------------------------------------------------
  // Trained quality classifier — the CCNet/fastText-style learned gate
  // real curation stacks put after the rule filters: hashed word
  // features (md5 → 2^18 buckets, binary presence) into logistic
  // regression trained by deterministic batch gradient descent. The
  // whole loop is engine-replayable (the Lloyd pattern from
  // Similarity.ivfTrainCentroids): per iteration the margin z is an
  // exact DECIMAL sum of 6-dp weights, the sigmoid output is 6-dp
  // rounded BEFORE the residual enters any reduction, gradients reduce
  // as exact decimals (order-independent, so partial aggregation
  // parallelizes arbitrarily), and the weight update re-rounds to 6 dp —
  // both engines walk the identical weight trajectory.
  //
  // 100 TB shape: each iteration is ONE distributed job over the
  // (id, bucket) feature table (one hash shuffle, map-side combined);
  // iterations are FIXED (no data-dependent convergence test — a
  // deterministic, resumable training run). The weight vector is
  // vocab-bounded (≤ distinct words, ≤ 2^18 live buckets) — the same
  // broadcast-a-model shape as [[lmScoreFromModel]]; the between-rounds
  // driver round-trip is the bounded control-plane pull that keeps the
  // plan flat (the ivfTrainCentroids lineage argument).
  // ------------------------------------------------------------------

  /** Hash-bucket count of the quality classifier (2^18 — the fastText
    // default bucket order of magnitude). */
  val QualityClfBuckets: Int = 1 << 18

  /** Distinct hashed-word features per doc: `(id, bucket)` with
    * `bucket = md5Long60(word) % buckets` (engine-portable, see
    * [[TextHashing]]); binary presence, the fastText-style bag. Words are
    * `\s+`-tokenized (empty tokens dropped) — the same tokenization the
    * [[gopherFilter]] bootstrap labels use, so features and labels see
    * one word set. Every doc additionally carries the always-on INTERCEPT
    * feature at `bucket = -1` (word buckets are non-negative), so the
    * bias trains/scores as a regular weight — one aggregation covers the
    * whole gradient, bias included. */
  def qualityClfFeatures(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int = QualityClfBuckets,
                         spread: Boolean = false): DataFrame = {
    // `spread = true` only where the feature build is reused enough to
    // amortize the exchange (the training loop); one-shot scoring passes
    // keep the scan layout — measured: spreading per-score calls cost the
    // curation pipelines ~+0.5-1 s each (r15)
    //
    // r16 (guide §2.4): the intercept sentinel used to arrive via a SECOND
    // scan of `docs` unionByName'd under the word explode — the union both
    // re-read the input and erased the child partitioning, so the
    // downstream distinct AND every per-id aggregation paid fresh
    // exchanges. Folding the sentinel into the per-doc bucket ARRAY keeps
    // ONE scan and ONE Generate, and Generate preserves hash(id) — under
    // `spread` the distinct and the training loop's per-id aggregations
    // all reuse the spread exchange instead of adding their own. The
    // row set is unchanged: per doc, bucket −1 plus the distinct hashed
    // words (null text still yields its sentinel row via the coalesce).
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol))
    (if (spread) spreadIfNarrow(base, col("id")) else base)
      .select(col("id"), explode(concat(
        array(lit(-1L)),
        coalesce(
          transform(
            filter(split(col(textCol), "\\s+"), w => length(w) > 0),
            w => pmod(TextHashing.md5Long60(w), lit(buckets.toLong))),
          array()))).as("bucket"))
      .distinct()
  }

  /**
   * Train the logistic-regression quality model on a labeled table
   * (`labelCol` ∈ {0, 1} — bootstrap labels typically come from a rule
   * gate like [[gopherFilter]] plus planted negatives). Returns the
   * model table `(bucket, w)` with the intercept at `bucket = -1`
   * (hash buckets are non-negative, so the sentinel cannot collide).
   * Deterministic: fixed `iters` full-batch GD rounds from w = 0 — no
   * RNG, no early stop; the SQL oracle replays every round bit-for-bit.
   */
  /** `callerPinned = true`: the caller already persists `labeled` for a
    * wider scope (e.g. the eval query reuses it for scoring after
    * training) — the loop then must NOT pin/unpin it itself, because
    * `unpersist` is not reference-counted and would drop the caller's
    * cache entry mid-query (r15). */
  def qualityClfTrain(labeled: DataFrame, idCol: String, textCol: String,
                      labelCol: String, buckets: Int = QualityClfBuckets,
                      iters: Int = 3, lr: Double = 0.5,
                      callerPinned: Boolean = false): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    // the labeled table is typically a COMPUTED bootstrap (rule-filter
    // labels over text analysis) and this loop references it many times:
    // ys feeds every iteration's residual join and feats' build scans the
    // text — without pinning, the label bootstrap re-runs per iteration
    // (measured: gopherFilter re-evaluated 5x per training run at sf0.1).
    // All three pins are loop-scoped and released in finally.
    // An already-persisted input counts as caller-pinned regardless of the
    // flag (r15 ADVICE): `unpersist` is not ref-counted, so re-pinning and
    // releasing a caller's cached table here would silently drop the
    // caller's cache entry mid-query.
    val alreadyPinned = callerPinned ||
      labeled.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val lab = if (alreadyPinned) labeled else labeled.persist()
    val ys = lab.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("double").as("y")).persist()
    val feats = qualityClfFeatures(lab, idCol, textCol, buckets,
      spread = true).persist()
    try {
      val n = ys.count() // also materializes the ys pin
      require(n > 0, "qualityClfTrain: empty training set")
      // the intercept lives at bucket -1 (an always-on feature from
      // qualityClfFeatures), so ONE gradient aggregation per round covers
      // every weight including the bias — one distributed job per
      // iteration, not a second bias-only reduction
      var weights = Map.empty[Long, Double]
      (1 to iters).foreach { _ =>
        val wDf = weights.toSeq.toDF("bucket", "w")
        val zs = feats.join(broadcast(wDf), Seq("bucket"))
          .groupBy("id").agg(sum(col("w").cast("decimal(20,6)")).as("zs"))
        val resid = ys.join(zs, Seq("id"), "left")
          .select(col("id"),
            round(coalesce(col("zs").cast("double"), lit(0.0)), 6).as("z"), col("y"))
          .select(col("id"),
            (round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).cast("decimal(20,6)") -
              col("y").cast("decimal(20,6)")).as("r"))
        // broadcast-residual gradient (r15 verdict "next round" #5, guide
        // §3.1): `resid` is exactly one row per labeled doc — `n` rows, a
        // bound already in hand from the pin above — so when it fits the
        // house broadcast bound the gradient join ships the residuals to
        // the (cached, hash(id)-partitioned) feature table instead of
        // shuffling the feature table by id every iteration; the partial
        // per-bucket aggregation then leaves ONE exchange per round (the
        // bucket-keyed gradient rows). Past the bound the shuffle join
        // shape is unchanged. The sums are exact DECIMAL either way —
        // identical weight trajectory.
        val residSide =
          if (n <= graft.llm.Dedup.MaxBroadcastBatchRows) broadcast(resid)
          else resid
        val grads = feats.join(residSide, Seq("id"))
          .groupBy("bucket").agg(sum(col("r")).as("g"))
          .collect().map(x => (x.getLong(0), x.getDecimal(1).doubleValue()))
        val m = scala.collection.mutable.HashMap[Long, Double]() ++ weights
        grads.foreach { case (b, g) =>
          m.update(b, Similarity.roundHalfUp(m.getOrElse(b, 0.0) - lr * g / n, 6))
        }
        weights = m.toMap
      }
      weights.toSeq.toDF("bucket", "w")
    } finally {
      feats.unpersist(); ys.unpersist()
      if (!callerPinned) lab.unpersist()
    }
  }

  /** Score documents against a trained model: per doc the 6-dp margin
    * `z = Σ_{bucket ∈ doc ∪ {-1}} w` (the intercept rides the sentinel
    * feature), the sigmoid `score`, and the `keep = score ≥ threshold`
    * verdict. One feature scan + one broadcast model join + one
    * exact-decimal aggregation — scan-speed scoring, the trained twin of
    * the [[gopherFilter]] rule gate. */
  def qualityClfScore(docs: DataFrame, idCol: String, textCol: String,
                      model: DataFrame, buckets: Int = QualityClfBuckets,
                      threshold: Double = 0.5,
                      spread: Boolean = false): DataFrame = {
    // `spread` is call-site-gated (the r15 discipline, re-measured against
    // the r16 single-Generate feature builder): when scoring is the
    // query's MAIN work (clf/clf2/eval) the spread exchange replaces the
    // distinct's (id,bucket) exchange instead of adding to it (Generate
    // preserves hash(id), so distinct and the per-id margin aggregation
    // both reuse it) and the hash kernel parallelizes off the single-split
    // scan — measured clf2 0.97 → 0.42. In the 5-branch curation
    // pipelines the same spread pins a 32-partition layout under a chain
    // of tiny per-doc joins and costs ~+0.3 s each (task-dispatch floor,
    // r15's finding) — those call sites keep the scan layout.
    val feats = qualityClfFeatures(docs, idCol, textCol, buckets, spread)
    val zs = feats.join(broadcast(model.select(col("bucket"), col("w"))), Seq("bucket"))
      .groupBy("id").agg(sum(col("w").cast("decimal(20,6)")).as("zs"))
    docs.select(col(idCol).cast("long").as("id")).distinct()
      .join(zs, Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("zs").cast("double"), lit(0.0)), 6).as("z"))
      .select(col("id").as(idCol), col("z"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"))
      .withColumn("keep", col("score") >= threshold)
  }

  // ------------------------------------------------------------------
  // GPT-2-style pre-tokenization — the first half of closing the
  // "BPE is whitespace-word-tokenized" gap. Byte-level BPE trainers do
  // not merge across PRE-TOKEN boundaries: the corpus is first split by
  // the GPT-2 pre-tokenizer regex (contraction suffixes, space-prefixed
  // letter/digit/punctuation runs, whitespace runs), and the trainer
  // consumes the resulting PIECE-frequency table exactly where the
  // classic reduction consumes the word-frequency table. The regex here
  // is GPT-2's with ONE documented deviation: the original's trailing
  // `\s+(?!\S)` lookahead alternative (detach the last space of an
  // inter-token whitespace run so it prefixes the next word) is dropped,
  // because the DuckDB oracle's RE2 engine has no lookahead — so a
  // multi-space run stays one whitespace piece and the following word
  // still claims its single leading space via ` ?\p{L}+`. On
  // single-space-separated text (the synthetic corpus and most prose)
  // the two regexes produce identical splits. Both engines evaluate
  // alternation leftmost-first, and `\p{L}`/`\p{N}` are Unicode
  // categories in both, so the split is engine-portable.
  // ------------------------------------------------------------------

  /** GPT-2 pre-tokenizer pattern (lookahead-free variant — see section
    * comment). Portable between Java regex (Spark codegen'd
    * `regexp_extract_all`) and RE2 (DuckDB oracle). */
  val Gpt2PreTokenRegex: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** The corpus piece-frequency table `(piece, cnt)` — the drop-in
    * replacement for the whitespace word table a byte-level BPE trainer
    * consumes ([[bpeTrain]]'s loop carries over unchanged; only the
    * alphabet changes, with the leading space mapped to `Ġ` the GPT-2
    * way so pieces stay space-sentinel-safe). One corpus scan, one hash
    * shuffle keyed on the piece (map-side combined); the distinct-piece
    * table is vocab-scale, not corpus-scale — at 100 TB this is the
    * same one-scan reduction the word table uses. */
  def preTokenize(docs: DataFrame, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(explode(regexp_extract_all(col(textCol),
        lit(Gpt2PreTokenRegex), lit(0))).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("cnt"))

  /** GPT-2's whitespace markers: EVERY whitespace char of the Java `\s`
    * class in a piece is rewritten to its [[Gpt2ByteChar]] image
    * (0x20→`Ġ`, \t→`ĉ`, \n→`Ċ`, \x0B→`ċ`, \f→`Č`, \r→`č`) — exactly what
    * GPT-2's byte-to-unicode map does to those bytes — so every piece
    * becomes whitespace-free and the space-sentinel token representation
    * of [[bpeTrain]] stays unambiguous when training over pieces
    * (including whitespace-RUN pieces with tabs/newlines, which a
    * space-only rewrite would leave as trainer-invisible words).
    * ENGINE NOTE: the oracle twin marks the same six chars, but RE2's
    * `\s` class excludes \x0B, so the pre-token SPLIT itself diverges on
    * text containing a vertical tab — the corpus contract here (and in
    * the oracle) is \x0B-free text; [[byteLevelCorpus]] is the complete
    * any-byte fix. */
  def gpt2SpaceMark(piece: Column): Column =
    translate(piece, " \t\n\u000B\f\r", "ĠĉĊċČč")

  /** The corpus re-expressed as space-joined Ġ-marked pieces: each doc's
    * text becomes its GPT-2 pre-token sequence with every in-piece
    * whitespace char rewritten through [[gpt2SpaceMark]], so pieces are
    * whitespace-free and single-space-joined. Feeding THIS corpus to
    * [[bpeTrain]]/[[bpeTrainDelta]] makes the existing whitespace trainer
    * a GPT-2-pre-tokenized trainer with zero changes to the loop: its
    * `\S+` word table over the rewritten text IS the piece-frequency
    * table ([[preTokenize]] ∘ [[gpt2SpaceMark]]), and merges can never
    * cross a pre-token boundary (the GPT-2 invariant) because pieces are
    * whitespace-separated words to the trainer. One narrow projection —
    * no extra scan or shuffle. */
  def preTokenizedCorpus(docs: DataFrame, textCol: String): DataFrame =
    // spread before the pre-tokenizer regex — see [[byteLevelCorpus]]
    spreadIfNarrow(docs.where(col(textCol).isNotNull)
        .withColumn("__rid", monotonically_increasing_id()), col("__rid"))
      .drop("__rid")
      .withColumn(textCol, array_join(
        transform(
          regexp_extract_all(col(textCol), lit(Gpt2PreTokenRegex), lit(0)),
          p => gpt2SpaceMark(p)), " "))

  // ------------------------------------------------------------------
  // Byte-level BPE alphabet — GPT-2's bytes_to_unicode. A byte-level
  // trainer tokenizes UTF-8 BYTES, not code points, so any text (any
  // script, emoji, even invalid-as-text binary) reduces to a fixed
  // 256-symbol base alphabet and the learned vocabulary can never hit
  // an unknown symbol. The map sends each byte to one PRINTABLE char:
  // bytes that are already printable Latin-1 (33–126, 161–172, 174–255)
  // map to themselves; the 68 others (controls, space, DEL, 127–160,
  // 173) map to 256+n in byte order — so 0x20→Ġ(U+0120), \n→Ċ, \t→ĉ.
  // Composed with [[preTokenize]]'s piece split, this makes
  // [[bpeTrain]]/[[bpeTrainDelta]] byte-level trainers with ZERO loop
  // changes: pieces byte-map to whitespace-free words (every byte ≤0x20
  // maps above U+0100), the sentinel " " never collides, and merges
  // stay inside pre-token boundaries. Multi-byte chars contribute one
  // base token PER BYTE (é → Ã©), the GPT-2 behavior. The map is a
  // bijection byte↔char, so [[gpt2ByteDecode]] losslessly recovers the
  // original text (property-pinned in LlmSpec).
  // ------------------------------------------------------------------

  /** `byte → char` table of GPT-2's `bytes_to_unicode` (derived from the
    * published construction, not copied: keep printable Latin-1, shift
    * the rest to 256+n in byte order). */
  val Gpt2ByteChar: Array[Char] = Array.tabulate(256) { b =>
    if ((b >= 33 && b <= 126) || (b >= 161 && b <= 172) || b >= 174) b.toChar
    else if (b <= 32) (256 + b).toChar        // controls + space: n = b
    else if (b <= 160) (b + 162).toChar       // DEL..160: n = 33 + b − 127
    else (256 + 67).toChar                    // 173 (soft hyphen): n = 67
  }

  private lazy val Gpt2CharByte: Map[Char, Int] =
    Gpt2ByteChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** Byte-map one piece: UTF-8 bytes → their [[Gpt2ByteChar]] images. */
  def gpt2ByteMap(piece: String): String = {
    val bytes = piece.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(Gpt2ByteChar(bytes(i) & 0xFF)); i += 1 }
    sb.toString
  }

  /** Inverse of [[gpt2ByteMap]]: marker chars → bytes → UTF-8 text.
    * Fails loudly on a char outside the byte alphabet (a token that did
    * not come from the byte map). */
  def gpt2ByteDecode(s: String): String = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      out(i) = Gpt2CharByte.getOrElse(s.charAt(i),
        throw new IllegalArgumentException(
          s"gpt2ByteDecode: '${s.charAt(i)}' is not a byte-alphabet char")).toByte
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.UTF_8)
  }

  private lazy val Gpt2PreTokenCompiled =
    java.util.regex.Pattern.compile(Gpt2PreTokenRegex)

  /** The corpus re-expressed as space-joined BYTE-MAPPED pieces — the
    * byte-level trainer input: pre-tokenize with [[Gpt2PreTokenRegex]],
    * rewrite each piece's UTF-8 bytes through [[Gpt2ByteChar]], join with
    * single spaces. One narrow typed projection per doc (the per-byte
    * table lookup has no builtin-Column form — Spark's `chr` truncates at
    * 256 — and the kernel is bit-pinned against the oracle's SQL replay
    * by the `text_bpe_train_bytes` hash gate); no extra scan or shuffle,
    * and the downstream word table stays vocab-scale. */
  def byteLevelCorpus(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (r16 note: spreading the compact rows before this kernel was
    // A/B-measured — tokens_bytes 2.47 → 2.66, train_bytes 1.75 → 2.14 —
    // and REVERTED: the byte-level trainers' own downstream exchanges
    // already parallelize the hot loop, and the added exchange + pinned
    // layout cost more than the kernel's single-task head start. The
    // pre-tokenizer twin [[preTokenizedCorpus]] measured the opposite
    // way and keeps its spread.)
    docs.where(col(textCol).isNotNull)
      .select(col(textCol)).as[String]
      .map(byteLevelText _).toDF(textCol)
  }

  /** One doc through the byte-level pipeline: pre-token pieces, each
    * byte-mapped, single-space-joined. */
  def byteLevelText(t: String): String = {
    val m = Gpt2PreTokenCompiled.matcher(t)
    val sb = new java.lang.StringBuilder(t.length * 2)
    while (m.find()) {
      if (sb.length > 0) sb.append(' ')
      sb.append(gpt2ByteMap(m.group()))
    }
    sb.toString
  }

  /** [[byteLevelCorpus]] keeping the doc id — the ENCODE-side input: the
    * per-doc byte-mapped piece stream that [[bpeDocTokensFromMerges]]
    * tokenizes with a stored byte-level merge list (its `\S+` words ARE
    * the pieces, and `n_base_tokens` counts BYTES, the GPT-2 base
    * alphabet). Same one-scan narrow projection. */
  def byteLevelCorpusKeyed(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // no spread — measured net-negative, see [[byteLevelCorpus]]'s note
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, t) => (id, byteLevelText(t)) }
      .toDF(idCol, textCol)
  }
}
