package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{AhoCorasick, CurationFunctions}

/** Corpus-curation operators beyond the q62 rule pipeline: blocklist
  * phrase matching, Bloom-approximate decontamination, and the
  * compression-ratio redundancy signal.
  */
object Curation {

  /** Leakage-safe train/val/test split: assign every document its
    * near-dup CLUSTER (connected component over a candidate pair
    * table — any family's: n-gram Jaccard, MinHash, SimHash,
    * embedding) and split by hash of the COMPONENT, so two documents
    * that are near-duplicates of each other can never straddle the
    * train/test boundary. Splitting by bare doc id leaks: a test doc
    * whose near-copy sits in train is memorization measured as
    * generalization — the held-out-overlap failure the dedup
    * literature documents (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", §6 train/test overlap).
    * Unpaired documents are their own singleton component; the split
    * rule is [[TextAnalysis.groupSplit]]'s reproducible md5-prefix
    * cut, so the assignment never re-rolls across runs or engines.
    *
    * Scale shape: `pairs` is candidate-bounded (each family's banded/
    * df-pruned join output, never all-pairs); components run the
    * contraction fold over that pair-bounded edge set
    * ([[Dedup.connectedComponents]]); the component table (≤ 2|pairs|
    * rows) joins back to the corpus on the id — AQE broadcasts it
    * while small, and the corpus itself never shuffles (the split
    * column is row-local given the component). */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", trainHex: String = "cc",
      valHex: String = "e6"): DataFrame = {
    val comps = Dedup.connectedComponents(pairs)
      .select(col("node").as(idCol), col("comp"))
    val withComp = docs.join(comps, Seq(idCol), "left")
      .withColumn("component",
        coalesce(col("comp"), col(idCol)).cast("long"))
      .drop("comp")
    TextAnalysis.groupSplit(withComp, "component", trainHex, valHex)
  }

  /** Per-document blocklist report: the distinct matched pattern
    * indexes (ascending) for every document that contains at least one
    * blocklist phrase. ONE Aho–Corasick pass over each document finds
    * all P phrases at once (broadcast automaton, row-local scan — the
    * per-phrase `LIKE` chain reads the corpus P times); the corpus
    * never shuffles — the only exchange is the final report sort.
    */
  def blocklistMatches(docs: DataFrame, patterns: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ac = new AhoCorasick(patterns)
    docs.select(col(idCol),
        CurationFunctions.multi_match(col(textCol), ac).as("matched"))
      .filter(size(col("matched")) > 0)
  }

  /** Blocklist REDACTION — the repair counterpart of
    * [[blocklistMatches]]'s report: every non-overlapping blocklist
    * occurrence is replaced in ONE automaton pass (leftmost match,
    * longest pattern on a shared start). Output keeps every document
    * with its redaction count; same broadcast-automaton, row-local,
    * shuffle-free shape.
    */
  def blocklistRedact(docs: DataFrame, patterns: Seq[String],
      replacement: String = "[BLOCKED]", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ac = new AhoCorasick(patterns)
    docs.select(col(idCol),
        CurationFunctions.multi_redact(col(textCol), ac, replacement).as("r"))
      .select(col(idCol), col("r.redacted").as("redacted"),
        col("r.n_redacted").as("n_redacted"))
  }

  /** Bloom-filter decontamination — the [[Dedup.decontaminate]] scale
    * path for when the benchmark's exact digest set outgrows a
    * broadcast hash join (1B benchmark digests = 16+ GB exact vs
    * ~1.2 GB of Bloom bits at 1% fpp). The filter is built in one pass
    * over the benchmark side (driver holds only the bit array), rides
    * the plan as a reference object, and the corpus filters in place —
    * row-local probe, no join, no shuffle. No false negatives: every
    * truly contaminated document is dropped; an fpp-fraction of clean
    * documents is over-dropped (the conservative direction for a
    * leakage guard).
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      fpp: Double = 0.01, textCol: String = "text"): DataFrame = {
    val digests = benchmark.select(xxhash64(col(textCol)).as("h"))
    val expected = math.max(digests.count(), 1L)
    val bloom = digests.stat.bloomFilter("h", expected, fpp)
    corpus.filter(
      !CurationFunctions.bloom_might_contain(xxhash64(col(textCol)), bloom))
  }

  /** The end-to-end curation funnel — the composition a training-data
    * team actually ships, each stage applied to the SURVIVORS of the
    * previous one (so quality percentile bounds and dedup pair
    * generation see the stage's real input, exactly like a production
    * run): blocklist → quality rules → exact dedup → near dedup →
    * benchmark decontamination. Returns the funnel report
    * (stage, docs_in, docs_out, dropped) — six counts total; each
    * intermediate survivor set is persisted so no stage recomputes its
    * predecessors, and [[finalSurvivors]] exposes the surviving corpus
    * for export.
    */
  def curationFunnel(docs: DataFrame, benchmark: DataFrame,
      patterns: Seq[String], textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val stages = curationStages(docs, benchmark, patterns, textCol, idCol)
    // r17 (guide §7): the stages without a ride-along count (input and
    // decontaminate) are counted in ONE action instead of one count()
    // job each — their branches share no unmaterialized cache (every
    // staged frame was materialized at construction), so the union is
    // race-free.
    val missing = stages.zipWithIndex.filter(_._1._3.isEmpty)
    val fetched =
      if (missing.isEmpty) Map.empty[Int, Long]
      else missing.map { case ((_, df, _), i) =>
          df.agg(count(lit(1)).as("n")).select(lit(i).as("i"), col("n")) }
        .reduce(_.unionByName(_)).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counts = stages.zipWithIndex.map { case ((_, df, n), i) =>
      n.getOrElse(fetched(i)) }
    // the report is six local longs — release the stage caches rather
    // than leaking four persisted frames per invocation (the returned
    // frame has no lineage into them). Skip stage 0: it is the caller's
    // own frame, and unpersisting it would drop a cache the caller owns.
    stages.drop(1).foreach { case (_, df, _) => df.unpersist(); () }
    val spark = docs.sparkSession
    import spark.implicits._
    stages.map(_._1).zip(counts).sliding(2).map {
      case Seq((_, in), (stage, out)) => (stage, in, out, in - out)
    }.toSeq.toDF("stage", "docs_in", "docs_out", "dropped")
  }

  /** Crawl-to-corpus composition (the RefinedWeb end-to-end shape):
    * parsed WARC records → HTTP/HTML text extraction
    * ([[graft.sources.WarcReader.textDocuments]]) → URL curation
    * ([[urlCuration]]: registrable-domain blocklist, path-prefix
    * blocklist, per-domain cap) → the full [[curationFunnel]]
    * (blocklist → quality → exact dedup → near dedup →
    * decontamination) over the URL survivors. Returns ONE per-stage
    * report: `crawl_ingest` and `url_curation` rows prepended to the
    * funnel's five — the counts a crawl-processing team reads off the
    * whole pipeline.
    *
    * Scale shape: extraction is row-local off the streaming archive
    * scan; URL curation's one exchange carries ≤ cap·domains rows;
    * the funnel sees only the URL survivors (each stage cached over
    * the previous stage's frame, released before return). CurationSpec
    * pins composed ≡ hand-chained stages.
    */
  def crawlCurationReport(records: DataFrame, benchmark: DataFrame,
      patterns: Seq[String], blockedDomains: Set[String],
      blockedPathPrefixes: Seq[String], capPerDomain: Int): DataFrame = {
    // ONE archive scan serves both ingest counts: the unfiltered
    // response frame caches, the response count and the extraction
    // count read off it (re-streaming 100 TB of archives to count
    // responses would double the scan cost)
    val all = graft.CacheRegistry.persist(
      graft.sources.WarcReader.textDocumentsAll(records))
    val out = crawlCurationReportFromAll(all, benchmark, patterns,
      blockedDomains, blockedPathPrefixes, capPerDomain)
    all.unpersist()
    out
  }

  /** [[crawlCurationReport]] over an ALREADY-CACHED unfiltered
    * extraction frame ([[graft.sources.WarcReader.textDocumentsAll]]
    * shape) — the shared-hub entry (q125 reuses the corpus-wide WARC
    * extraction cache that p22 holds, the alto-tokens discipline); the
    * caller owns the cache lifecycle. */
  def crawlCurationReportFromAll(all: DataFrame, benchmark: DataFrame,
      patterns: Seq[String], blockedDomains: Set[String],
      blockedPathPrefixes: Seq[String], capPerDomain: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    // r17 (guide §7): one aggregate pass over the cached extraction
    // frame serves BOTH ingest counts (was one count() job each)
    val ingest = all.agg(count(lit(1)).as("nr"),
      count(when(col("text").isNotNull && col("text") =!= "", 1)).as("ne"))
      .head()
    val (nResponses, nExtracted) = (ingest.getLong(0), ingest.getLong(1))
    val docs = all.filter(col("text").isNotNull && col("text") =!= "")
    val keep = urlCuration(docs, blockedDomains, blockedPathPrefixes,
      capPerDomain)
    val kept = graft.CacheRegistry.persist(
      docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi"))
    val funnel = curationFunnel(kept, benchmark, patterns)
    val nKept = kept.count()
    val head = Seq(
      ("crawl_ingest", nResponses, nExtracted, nResponses - nExtracted),
      ("url_curation", nExtracted, nKept, nExtracted - nKept))
      .toDF("stage", "docs_in", "docs_out", "dropped")
    val out = head.unionByName(funnel)
    kept.unpersist()
    out
  }

  /** The funnel's surviving corpus (the last stage's frame). */
  def finalSurvivors(docs: DataFrame, benchmark: DataFrame,
      patterns: Seq[String], textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    curationStages(docs, benchmark, patterns, textCol, idCol).last._2

  /** Each persisted stage MATERIALIZES (count) before the next stage
    * is constructed: the near-dup stage's connected-components loop is
    * eager at construction time, and building it over a still-uncached
    * predecessor chain re-executes the whole upstream funnel once per
    * CC round (measured 11.5 s vs 3.2 s on the q125 crawl chain, whose
    * lineage reaches back through URL curation into the WARC
    * extraction). The counts ride along so [[curationFunnel]] never
    * re-scans a cache just to recount it. */
  private def curationStages(docs: DataFrame, benchmark: DataFrame,
      patterns: Seq[String], textCol: String,
      idCol: String): Seq[(String, DataFrame, Option[Long])] = {
    def staged(df: DataFrame): (DataFrame, Long) = {
      val p = graft.CacheRegistry.persist(df)
      (p, p.count())
    }
    val s0 = docs
    val (s1, n1) = staged(s0.join(
      blocklistMatches(s0, patterns, textCol, idCol).select(col(idCol)),
      Seq(idCol), "left_anti"))
    val (s2, n2) = staged(s1.join(
      graft.operators.TextAnalysis.curationDecisions(s1, textCol, idCol)
        .filter(col("keep")).select(col(idCol)),
      Seq(idCol), "left_semi"))
    val (s3, n3) = staged(Dedup.deduplicate(s2, textCol, idCol))
    val (s4, n4) = staged(
      Dedup.nearDeduplicate(s3, textCol = textCol, idCol = idCol))
    val s5 = Dedup.decontaminate(s4, benchmark, textCol)
    Seq(("input", s0, None), ("blocklist", s1, Some(n1)),
      ("quality", s2, Some(n2)), ("exact_dedup", s3, Some(n3)),
      ("near_dedup", s4, Some(n4)), ("decontaminate", s5, None))
  }

  /** Compression-ratio quality signal (deflate bytes / raw bytes) plus
    * the band verdict quality pipelines cut on: `repetitive` below
    * `lo` (templated/looped text), `junk` above `hi` (incompressible
    * noise), `ok` between. Row-local kernel, one corpus scan.
    */
  def compressionRatios(docs: DataFrame, lo: Double = 0.25,
      hi: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        CurationFunctions.deflate_ratio(col(textCol)).as("ratio"))
      .withColumn("verdict",
        when(col("ratio") < lo, lit("repetitive"))
          .when(col("ratio") > hi, lit("junk"))
          .otherwise(lit("ok")))

  // ------------------------------------------- incremental (stored-state) funnel

  /** The persisted half of the incremental [[curationFunnel]]: the
    * curated survivor corpus so far plus the FROZEN quality bounds the
    * base run established (the q110 stored-stats discipline — a small
    * delivery must not be judged against its own percentiles).
    *
    * Survivor ids must be append-only monotone (every delivery id >
    * every stored id): keeper election is min-id, so a monotone id is
    * what makes "the stored doc is always the keeper" equal the full
    * recompute. Content-hash ids (e.g.
    * [[graft.sources.JsonlCorpus.read]]'s xxhash64 fallback) violate
    * this — renumber such deliveries with
    * [[assignMonotoneIds]] before folding them in.
    *
    * State is append-only on disk: `newDelta` is the survivor rows
    * added since the state was loaded (what [[saveFunnelState]] must
    * write), `liveDeltas` the on-disk delta directories (relative to
    * the state root) already backing `survivors`. A 100 TB survivor
    * corpus must never be rewritten per delivery — only the delta
    * lands, and the manifest grows by one line.
    */
  final case class FunnelState(survivors: DataFrame,
      lenLo: Double, lenHi: Double,
      newDelta: Option[DataFrame] = None,
      liveDeltas: Seq[String] = Seq.empty,
      // SERVED sign-time derivatives of the survivor table (round 13,
      // the q102b discipline): the per-delivery fold otherwise
      // re-hashes, re-tokenizes and re-explodes the stored corpus on
      // every batch. When present: `storedDigests` = distinct
      // xxhash64(text) (the exact-dedup anti-join side),
      // `storedPostings` = (sid, gram) distinct shingle postings (the
      // near-dup across side), `storedSizes` = (sid, sng) per-survivor
      // distinct-shingle counts (the Jaccard denominator side). All
      // three are derivable from `survivors` — serving them is purely
      // a cost move, spec-pinned byte-identical.
      storedDigests: Option[DataFrame] = None,
      storedPostings: Option[DataFrame] = None,
      storedSizes: Option[DataFrame] = None)

  /** Persist funnel state under `path` (one version directory, e.g.
    * `.../state-7`). Append-only layout: only `newDelta` is written
    * (as `<path>/delta`); `<path>/manifest` lists every live delta
    * directory relative to the state ROOT (the version dir's parent),
    * the prior `liveDeltas` plus the new one, so `loadFunnelState`
    * unions them back. With `newDelta = None` the FULL survivor view
    * is written as a single delta — the compaction form (and the
    * fallback for hand-built states). `bounds` is written LAST — its
    * `_SUCCESS` is the version's commit marker for the streaming form.
    */
  def saveFunnelState(state: FunnelState, path: String): Unit = {
    val spark = state.survivors.sparkSession
    import spark.implicits._
    val version = new org.apache.hadoop.fs.Path(path).getName
    val (delta, prior) = state.newDelta match {
      case Some(d) => (d, state.liveDeltas)
      case None => (state.survivors, Seq.empty[String]) // full snapshot
    }
    delta.write.mode("overwrite").parquet(s"$path/delta")
    (prior :+ s"$version/delta").toDF("delta_dir")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
    Seq((state.lenLo, state.lenHi)).toDF("len_lo", "len_hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bounds")
  }

  /** Load a persisted funnel state ([[saveFunnelState]] layout). The
    * survivors stay a lazy FLAT multi-path scan over the manifest's
    * delta dirs ([[graft.state.SlotStore.readParts]] — one FileScan,
    * not a per-delta union chain that grows the plan linearly in
    * delivery count); only the 1-row bounds and the
    * (one-line-per-delivery) manifest collect. A legacy single-table
    * state (`survivors/` dir, no manifest) loads as one delta. */
  def loadFunnelState(spark: org.apache.spark.sql.SparkSession,
      path: String): FunnelState = {
    val b = spark.read.parquet(s"$path/bounds").head()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = p.getParent
    val entries: Seq[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(p, "manifest")))
        spark.read.parquet(s"$path/manifest")
          .collect().map(_.getString(0)).toSeq
      else Seq(s"${p.getName}/survivors")
    val survivors = graft.state.SlotStore.readParts(spark,
      entries.map(e => new org.apache.hadoop.fs.Path(root, e).toString))
    FunnelState(survivors, b.getAs[Double]("len_lo"),
      b.getAs[Double]("len_hi"), None, entries)
  }

  /** Fold a state's delta chain into ONE snapshot version — the batch
    * counterpart of the streaming host's threshold compaction, for
    * callers driving [[saveFunnelState]]/[[loadFunnelState]] manually:
    * without it the manifest (and [[loadFunnelState]]'s union plan)
    * grows one delta per save. Writes the full survivor view to `to`
    * (a fresh version dir — never compact in place, the old versions
    * stay readable until the new commit marker lands); the caller
    * retires the old version dirs afterwards. */
  def compactFunnelState(spark: org.apache.spark.sql.SparkSession,
      from: String, to: String): Unit =
    saveFunnelState(loadFunnelState(spark, from)
      .copy(newDelta = None, liveDeltas = Seq.empty), to)

  /** Renumber a delivery with ids strictly greater than every stored
    * survivor id — the [[FunnelState]] monotone-id precondition for
    * corpora whose natural ids are content hashes
    * ([[graft.sources.JsonlCorpus.read]]). Deterministic given the
    * input's partitioning (RDD zipWithIndex), one count job over the
    * delivery only — the stored corpus contributes a single max().
    */
  def assignMonotoneIds(state: FunnelState, delivery: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val spark = delivery.sparkSession
    // cast BEFORE the max so int-typed id columns read back as long
    // (the groupCap/requireIntegralId discipline) instead of throwing
    // in getLong; a negative stored max would defeat the overflow
    // check below (it assumes base >= 0), so fail loudly on it
    val base = state.survivors.agg(max(col(idCol).cast("long"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    require(base >= 0,
      s"assignMonotoneIds: stored max id $base is negative — monotone " +
        "renumbering requires a non-negative stored id range")
    val others = delivery.columns.filter(_ != idCol)
    val schema = org.apache.spark.sql.types.StructType(
      delivery.schema.fields.filter(_.name != idCol) :+
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val renumbered = delivery.drop(idCol).rdd.zipWithIndex().map {
      case (row, i) =>
        val id = base + 1L + i
        // fail fast on Long overflow instead of silently wrapping to
        // NEGATIVE (= smaller-than-everything) ids that corrupt keeper
        // election: content-hash bases are uniform in [0, 2^63), so a
        // base near Long.MaxValue leaves less headroom than a large
        // delivery needs — renumber the STORED corpus (compact + re-id)
        // first. Detected inside the one existing pass: base >= 0 and
        // a wrapped id falls below it, so the check is free — no extra
        // count job over the delivery.
        if (id < base)
          throw new IllegalArgumentException(
            s"assignMonotoneIds: stored max id $base leaves no headroom " +
              s"for row index $i without Long overflow; renumber the " +
              "stored corpus to a dense id range first")
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ id)
    }
    spark.createDataFrame(renumbered, schema)
      .select((idCol +: others.toSeq).map(col): _*)
  }

  /** Initialize funnel state from a base corpus: the same stage
    * composition as [[curationFunnel]], with the quality bounds
    * computed once on the post-blocklist input and frozen into the
    * state for every later delivery. */
  def initialFunnelState(docs: DataFrame, benchmark: DataFrame,
      patterns: Seq[String], textCol: String = "text",
      idCol: String = "doc_id"): FunnelState = {
    // s1 feeds the percentile action AND the stage chain; s3 feeds the
    // near-dup edge loop (eager checkpoints) AND the survivor chain —
    // persist both so the base scan+automaton pass runs once, not per
    // consumer
    val s1 = docs.join(
      blocklistMatches(docs, patterns, textCol, idCol).select(col(idCol)),
      Seq(idCol), "left_anti").transform(graft.CacheRegistry.persist(_))
    val b = s1.agg(expr("percentile(n_chars, 0.05)"),
      expr("percentile(n_chars, 0.95)")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val s2 = s1.join(
      graft.operators.TextAnalysis.curationDecisions(s1, textCol, idCol,
        frozenBounds = Some((lo, hi)))
        .filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
    val s3 = Dedup.deduplicate(s2, textCol, idCol)
      .transform(graft.CacheRegistry.persist(_))
    val s4 = Dedup.nearDeduplicate(s3, textCol = textCol, idCol = idCol)
    // the survivor table is the STATE — every incremental stage reads
    // it (digest anti-join, cross-pair gram scan, the fold-in union),
    // so persist it instead of re-running the whole base funnel DAG
    // per consumer (registered; Graft.releaseCaches drops it)
    val survivors = Dedup.decontaminate(s4, benchmark, textCol)
      .transform(graft.CacheRegistry.persist(_))
    // the base run's whole survivor set is the first on-disk delta,
    // projected to the canonical state shape so later delivery deltas
    // union with it under any input's extra columns
    FunnelState(survivors, lo, hi,
      newDelta = Some(survivors.select(col(idCol), col(textCol),
        col("n_chars"))))
  }

  /** Incremental curation funnel — the q89/q99 delivery discipline
    * applied to q105: fold ONE delivery batch through the funnel
    * against the stored state, returning the new state and the
    * per-stage delta report, without re-running any stage over the
    * stored corpus. Stage shapes: blocklist and decontamination are
    * row-local; quality uses the state's frozen bounds; exact dedup
    * anti-joins the delivery's digests against the survivors' (digests
    * only shuffle); near dedup pairs the delivery WITHIN itself plus
    * ACROSS to the stored survivors — the stored side's gram explode
    * is semi-join-pruned to grams the (small) delivery actually
    * contains, so the stored corpus is scanned but never re-paired
    * with itself. A delivery doc in a cluster that touches ANY stored
    * survivor drops (ids are append-only, so the stored doc is always
    * the min-id keeper); pure-delivery clusters keep their min id —
    * with append-only ids this equals the full recompute under the
    * same frozen bounds (CurationSpec pins it on a two-delivery
    * fixture). Declared divergence, inherent to ANY incremental dedup:
    * a chain that runs through a document an EARLIER funnel dropped
    * cannot be seen (the state only stores survivors).
    */
  def incrementalFunnel(state: FunnelState, delivery: DataFrame,
      benchmark: DataFrame, patterns: Seq[String],
      n: Int = 2, threshold: Double = 0.2, maxDocFreq: Long = 100L,
      textCol: String = "text", idCol: String = "doc_id")
      : (FunnelState, DataFrame) = {
    val spark = delivery.sparkSession
    val s0 = delivery
    val s1 = s0.join(
      blocklistMatches(s0, patterns, textCol, idCol).select(col(idCol)),
      Seq(idCol), "left_anti").transform(graft.CacheRegistry.persist(_))
    val s2 = s1.join(
      graft.operators.TextAnalysis.curationDecisions(s1, textCol, idCol,
        frozenBounds = Some((state.lenLo, state.lenHi)))
        .filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
      .transform(graft.CacheRegistry.persist(_))
    // exact dedup: within-delivery keep-min, then digest anti-join vs
    // the stored survivors (8-byte digests only; stored text never
    // moves). CHECKPOINTED, not persisted: s3 is referenced by every
    // downstream stage and the keeper election, and truncating here
    // keeps the survivors relation out of every later broadcast build's
    // lineage (see incrementalNearDupKeepers' no-corpus-broadcast
    // contract) as well as out of the multiplicative plan-tree growth
    // that OOMed the streaming form's plan stringification.
    val storedDigests = state.storedDigests
      .map(_.select(col("__d")))
      .getOrElse(state.survivors
        .select(xxhash64(col(textCol)).as("__d")).distinct())
    val s3w = Dedup.deduplicate(s2, textCol, idCol)
    val s3 = graft.CacheRegistry.localCheckpoint(
      s3w.join(storedDigests,
        xxhash64(s3w(textCol)) === col("__d"), "left_anti"))
    val keepers = incrementalNearDupKeepers(state.survivors, s3,
      n, threshold, maxDocFreq, textCol, idCol,
      state.storedPostings, state.storedSizes)
    val s4 = s3.join(keepers, Seq(idCol), "left_semi")
      .transform(graft.CacheRegistry.persist(_))
    val s5 = Dedup.decontaminate(s4, benchmark, textCol)
    val stages = Seq("input" -> s0, "blocklist" -> s1, "quality" -> s2,
      "exact_dedup" -> s3, "near_dedup" -> s4, "decontaminate" -> s5)
    // r17 (guide §7 — per-delivery job-count floor): ONE action
    // computes every stage count. The six serial count() actions each
    // paid a driver round-trip plus its stage latency — at delivery
    // scale the fold's cost IS that fixed job floor (BASELINE §36),
    // not data. The union's branches run as concurrent stages inside
    // one action; the decontamination count rides the s4 branch as a
    // flagged count (the digest join [[Dedup.decontaminate]] runs, as
    // a left join), so the not-yet-materialized s4 cache has exactly
    // ONE consuming branch here — no two branches race to build the
    // same InMemoryRelation. s1/s2 are already materialized by s3's
    // eager checkpoint, s3 by construction.
    def one(i: Int, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(i).as("i"), col("n"))
    val tail45 = Dedup.joinBenchmarkDigests(s4, benchmark, textCol, "left")
      .agg(count(lit(1)).as("n4"),
        count(when(col("_m").isNull, 1)).as("n5"))
      .select(explode(array(
        struct(lit(4).as("i"), col("n4").as("n")),
        struct(lit(5).as("i"), col("n5").as("n")))).as("r"))
      .select(col("r.i").as("i"), col("r.n").as("n"))
    val byIdx = (Seq(one(0, s0), one(1, s1), one(2, s2), one(3, s3))
        :+ tail45)
      .reduce(_.unionByName(_)).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counts = (0 to 5).map(byIdx)
    import spark.implicits._
    val report = stages.map(_._1).zip(counts).sliding(2).map {
      case Seq((_, in), (stage, out)) => (stage, in, out, in - out)
    }.toSeq.toDF("stage", "docs_in", "docs_out", "dropped")
    // append-only state: the delivery's survivors are the new delta;
    // in-memory multi-fold (state1 → state2 without a save between)
    // accumulates deltas so a single save still lands every new row
    val delta = s5.select(col(idCol), col(textCol), col("n_chars"))
    val newState = state.copy(
      survivors = state.survivors
        .select(col(idCol), col(textCol), col("n_chars"))
        .unionByName(delta)
        .transform(graft.CacheRegistry.persist(_)),
      newDelta = Some(state.newDelta.map(_.unionByName(delta))
        .getOrElse(delta)))
    (newState, report)
  }

  /** Near-dup keeper election for one delivery against the stored
    * survivors: within-delivery edges cluster via connected components;
    * a delivery doc whose cluster touches ANY stored survivor drops
    * whole; surviving clusters keep their min id.
    *
    * Broadcast discipline (the 100 TB contract, pinned by
    * CurationSpec): NO survivors-derived frame is ever under a
    * broadcast hint. The stored corpus is scanned (explode semi-pruned
    * to delivery grams; per-survivor gram counts computed only for the
    * candidate sids the pair aggregate surfaced) but every broadcast
    * build is delivery-bounded — candidate pairs are at most
    * |delivery grams| × maxDocFreq rows. The r8 form broadcast a
    * per-survivor size table: a stored-corpus-cardinality collect at
    * exactly the scale this operator exists for.
    *
    * Scale contract: the broadcasts are DELIVERY-pair-bounded, so the
    * incremental path assumes deliveries ≪ stored corpus (the
    * daily-drop regime it exists for). A delivery approaching corpus
    * scale blows the pair bound no matter the join strategy — run the
    * full `nearDeduplicate` recompute for those instead.
    */
  private[graft] def incrementalNearDupKeepers(survivors: DataFrame,
      s3: DataFrame, n: Int, threshold: Double, maxDocFreq: Long,
      textCol: String, idCol: String,
      storedPostings: Option[DataFrame] = None,
      storedSizes: Option[DataFrame] = None): DataFrame = {
    // Both edge kinds use the UNION document frequency for the df prune
    // (delta count + stored count of each delta gram) — computable
    // without re-pairing the stored corpus, and EXACTLY what the full
    // recompute's `nearDeduplicate(maxDocFreq)` prunes on, so parity
    // holds even when a templated gram crosses the threshold.
    val dGrams = s3.select(col(idCol).as("did"),
      Dedup.shingles(Dedup.tokensOf(col(textCol)), n)
        .as("grams"))
    val dSizes = dGrams.select(col("did"),
      size(col("grams")).cast("bigint").as("dng"))
    val dExpAll = dGrams.select(col("did"), explode(col("grams")).as("gram"))
    // stored postings: SERVED from sign-time state when available —
    // otherwise derived by re-tokenizing + exploding the survivor text
    // per delivery. Pruned to the delivery's gram set before the
    // exchange — stored rows without a delivery gram never shuffle.
    // The pruned explodes are CHECKPOINTED, not just persisted: each is
    // referenced 2-3 times below and a persisted plan still embeds its
    // whole subtree per reference — with the survivors scan and the
    // rare-gram aggregate nested inside, the un-truncated plan TREE
    // grows multiplicatively (it OOMed the streaming form's plan
    // stringification). Both frames are delivery-sized, so the eager
    // cut is cheap; blocks release with the registry.
    val sPostBase = storedPostings
      .map(_.select(col("sid"), col("gram")))
      .getOrElse(survivors.select(col(idCol).as("sid"),
          Dedup.shingles(Dedup.tokensOf(col(textCol)), n).as("grams"))
        .select(col("sid"), explode(col("grams")).as("gram")))
    val sExpAll = graft.CacheRegistry.localCheckpoint(
      sPostBase
        .join(broadcast(dExpAll.select("gram").distinct()), Seq("gram"),
          "left_semi"))
    val rareGrams = dExpAll.groupBy("gram").agg(count(lit(1)).as("dc"))
      .join(sExpAll.groupBy("gram").agg(count(lit(1)).as("sc")),
        Seq("gram"), "left")
      .filter(col("dc") + coalesce(col("sc"), lit(0L)) <= maxDocFreq)
      .select("gram")
    val dExp = graft.CacheRegistry.localCheckpoint(
      dExpAll.join(broadcast(rareGrams), Seq("gram"), "left_semi"))
    val sExp = sExpAll.join(broadcast(rareGrams), Seq("gram"), "left_semi")
    // r17 (guide §2.4, the ngramJaccardPairs member-list shape): ONE
    // exchange on the gram builds per-gram member lists — every gram
    // here already passed the union-df cut (dc + sc <= maxDocFreq), so
    // the capped collect can never drop a member; the set sizes ride
    // the collected pair, so the Jaccard filter runs directly on the
    // pair aggregate. Replaces the a×b self-join plus TWO post-agg
    // size joins.
    val within = dExp.join(dSizes, Seq("did"))
      .groupBy("gram")
      .agg(graft.functions.BoundedAgg.collect_capped_pair(
        col("did"), col("dng"), maxDocFreq).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxDocFreq)
      .select(explode(flatten(transform(col("ms"), a =>
        transform(filter(col("ms"), b => b("id") > a("id")), b =>
          struct(a("id").as("ida"), a("v").as("nga"),
            b("id").as("idb"), b("v").as("ngb")))))).as("p"))
      .groupBy(col("p.ida").as("doc_id_a"), col("p.idb").as("doc_id_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("p.nga")).as("ng_a"), max(col("p.ngb")).as("ng_b"))
      .filter(round(col("inter").cast("double") /
        (col("ng_a") + col("ng_b") - col("inter")), 4) >= threshold)
      .select("doc_id_a", "doc_id_b")
    // candidate (delivery, stored) pairs with shared-rare-gram counts —
    // delivery-pair-bounded; checkpointed because it feeds both the sid
    // prune and the verdict join
    val crossAgg = graft.CacheRegistry.localCheckpoint(
      dExp.join(sExp, Seq("gram"))
        .groupBy("did", "sid").agg(count(lit(1)).as("inter")))
    // stored-side gram counts ONLY for candidate sids: the survivors
    // scan is semi-pruned by the (pair-bounded) candidate set BEFORE
    // the shingle-size projection, and the verdict join broadcasts the
    // pair table into that scan — the corpus streams as the probe side
    // of both joins, never as a build
    val candSids = crossAgg.select(col("sid")).distinct()
    val sSizes = storedSizes
      .map(_.join(broadcast(candSids), Seq("sid"), "left_semi")
        .select(col("sid"), col("sng")))
      .getOrElse(survivors
        .join(broadcast(candSids.withColumnRenamed("sid", idCol)),
          Seq(idCol), "left_semi")
        .select(col(idCol).as("sid"),
          size(Dedup.shingles(Dedup.tokensOf(col(textCol)), n))
            .cast("bigint").as("sng")))
    val cross = sSizes
      .join(broadcast(crossAgg.join(dSizes, Seq("did"))), Seq("sid"))
      .filter(round(col("inter").cast("double") /
        (col("dng") + col("sng") - col("inter")), 4) >= threshold)
      .select(col("did"))
    // component label per delivery doc (own id when unpaired); a
    // component touching a stored survivor drops whole. Delivery edge
    // lists are delta-scale: under the driver-safe gate the fold is
    // one in-memory union-find instead of the iterative distributed
    // loop (the q53b discipline)
    val withinP = graft.CacheRegistry.persist(within)
    val comps =
      if (withinP.count() <= Dedup.localCcMaxEdges)
        Dedup.localConnectedComponents(withinP)
      else Dedup.connectedComponents(withinP)
    val labeled = s3.select(col(idCol).as("did"))
      .join(comps.withColumnRenamed("node", "did"), Seq("did"), "left")
      .select(col("did"), coalesce(col("comp"), col("did")).as("comp"))
    val tainted = labeled.join(cross.distinct(), Seq("did"), "left_semi")
      .select(col("comp")).distinct()
    labeled.join(tainted, Seq("comp"), "left_anti")
      .groupBy("comp").agg(min("did").as("did"))
      .select(col("did").as(idCol))
  }

  /** URL-based curation — the FIRST stage of the published web-corpus
    * recipes (CCNet/RefinedWeb run URL filtering before any content
    * pass, because it is the only filter that costs zero text
    * processing): parse scheme-authority-path with one regex each,
    * reduce the host to its APPROXIMATE registrable domain (last two
    * dot-labels — a public-suffix list refines this behind the same
    * column, declared), drop blocklisted domains and blocklisted path
    * prefixes, and cap survivors per domain keeping the longest
    * documents ((n_chars desc, doc_id) — [[Sampling.groupCap]]'s
    * bounded aggregate, never a per-domain window sort).
    *
    * Scale shape: parsing and filtering are row-local; the only
    * exchange is the cap aggregate's ≤ cap·domains rows. Blocklists
    * broadcast as literals (`isin`) at dashboard size; swap to a
    * broadcast semi-join frame past that.
    *
    * @return kept (doc_id, domain, rank) — rank 1-based within domain
    */
  def urlCuration(docs: DataFrame, blockedDomains: Set[String],
      blockedPathPrefixes: Seq[String], capPerDomain: Int,
      urlCol: String = "url", idCol: String = "doc_id",
      scoreCol: String = "n_chars"): DataFrame =
    Sampling.groupCap(
        parseAndFilterUrls(docs, blockedDomains, blockedPathPrefixes,
          urlCol, idCol, scoreCol),
        groupCol = "domain", cap = capPerDomain,
        scoreCol = scoreCol, idCol = idCol)
      .select(col(idCol), col("domain"), col("rank"))

  /** Above these sizes the literal forms break down: an `isin` chain
    * of 100k domains blows up analysis/codegen, and a per-prefix
    * `startsWith` conjunction scans every prefix per row. The at-scale
    * strategies keep the SAME semantics: domains anti-join against a
    * BROADCAST one-column table (a blocklist is tiny next to a crawl —
    * never a shuffle of the corpus side), prefixes match through the
    * [[graft.functions.PrefixSet]] kernel (one hash probe per distinct
    * prefix LENGTH per row). CurationSpec pins 100k-entry parity and
    * the broadcast plan shape. */
  private val MaxLiteralDomains = 64
  private val MaxLiteralPrefixes = 16

  /** The row-local half of [[urlCuration]]: (id, score, domain) for
    * every document whose URL survives the blocklists. */
  private def parseAndFilterUrls(docs: DataFrame,
      blockedDomains: Set[String], blockedPathPrefixes: Seq[String],
      urlCol: String, idCol: String, scoreCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val host = regexp_extract(col(urlCol), "^[a-z]+://([^/]+)", 1)
    val path = regexp_extract(col(urlCol), "^[a-z]+://[^/]+(/.*)$", 1)
    val domain = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    val parsed = docs.select(col(idCol), col(scoreCol),
      domain.as("domain"), path.as("path"))
    val domainFiltered =
      if (blockedDomains.isEmpty) parsed
      else if (blockedDomains.size <= MaxLiteralDomains)
        parsed.filter(!col("domain").isin(blockedDomains.toSeq: _*))
      else
        parsed.join(
          broadcast(blockedDomains.toSeq.toDF("domain")),
          Seq("domain"), "left_anti")
    val pathFiltered =
      if (blockedPathPrefixes.isEmpty) domainFiltered
      else if (blockedPathPrefixes.size <= MaxLiteralPrefixes)
        domainFiltered.filter(blockedPathPrefixes
          .map(p => !col("path").startsWith(p))
          .reduce(_ && _))
      else
        domainFiltered.filter(!graft.functions.CurationFunctions
          .starts_with_any(col("path"),
            new graft.functions.PrefixSet(blockedPathPrefixes)))
    pathFiltered.drop("path")
  }

  /** Delivery-time [[urlCuration]] — continuous-crawl governance (the
    * q99/q115 marriage): a new crawl batch merges into the STORED
    * per-domain keeper set. The delivery parses and filters through
    * the SAME rules row-locally, unions with the stored keepers (id,
    * domain, score — ≤ cap·domains rows, the only corpus-derived
    * input; the corpus itself is never re-read), and the per-domain
    * cap re-ranks the union with the bounded aggregate — a delivery
    * document enters only by out-ranking a stored keeper, evicting it
    * exactly as the batch operator over the union would.
    *
    * @param storedKeepers (idCol, domain, scoreCol) — the persisted
    *   output of the batch pass joined back to its scores
    * @return the NEW keeper set (idCol, domain, rank)
    */
  def urlCurationMerge(storedKeepers: DataFrame, delivery: DataFrame,
      blockedDomains: Set[String], blockedPathPrefixes: Seq[String],
      capPerDomain: Int, urlCol: String = "url",
      idCol: String = "doc_id", scoreCol: String = "n_chars"): DataFrame = {
    val deliv = parseAndFilterUrls(delivery, blockedDomains,
      blockedPathPrefixes, urlCol, idCol, scoreCol)
    val unioned = storedKeepers.select(col(idCol), col(scoreCol),
        col("domain"))
      .unionByName(deliv)
    Sampling.groupCap(unioned, groupCol = "domain", cap = capPerDomain,
        scoreCol = scoreCol, idCol = idCol)
      .select(col(idCol), col("domain"), col("rank"))
  }
}
