package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a document corpus.
  *
  * All variants follow the same scale discipline: per-document work
  * (tokenize, shingle, hash, signature) is a pure projection evaluated
  * row-local — no shuffle, no UDF, and the hot kernels are native
  * codegen'd expressions (graft.functions), not interpreted lambdas;
  * the only shuffles are on compact fixed-width keys (content digest,
  * LSH band key, simhash chunk), never on raw text. That is what keeps
  * each of these linear at 100 TB: candidate generation is a hash
  * join on small keys, and the quadratic pair verification only runs
  * inside buckets.
  *
  * Mirrors the reference's normalized-key matching idea
  * (`sciencebeam_parser/processors/ref_matching.py:44-64` — keys are
  * `[^a-z0-9]`-stripped lowercase) generalized to corpus scale.
  */
object Dedup {

  /** `[^a-z0-9]`-stripped lowercase key (ref_matching.py:19-41
    * semantics) — the native single-scan kernel; the java.util.regex
    * formulation was 80% of q32's runtime at sf1. */
  def normalizedKey(c: Column): Column =
    graft.functions.TextStats.normalized_key(c)

  /** Non-empty whitespace tokens. */
  def tokensOf(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** Distinct word n-gram shingles; short docs collapse to one shingle
    * (native NgramsExpr — single child evaluation). */
  def shingles(tokens: Column, n: Int): Column =
    graft.functions.Sketch.word_ngrams(tokens, n)

  // ------------------------------------------------------------- exact

  /** Exact duplicate groups: digest → groupBy. The digest (16 bytes)
    * is computed map-side so the shuffle carries hashes, not text.
    */
  def exactDupGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))
      .filter(col("n") > 1)

  /** Deduplicate the corpus: keep the minimum-id document of every
    * exact-content group. One shuffle on the 16-byte digest; the keeper
    * set joins back as a broadcast-able (id) semi-join — at 100 TB the
    * text never moves twice.
    */
  def deduplicate(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keepers = docs
      .groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Cross-corpus exact decontamination: drop from `corpus` every
    * document whose exact text appears in `benchmark` — the
    * benchmark-leakage guard a pre-training pipeline runs before any
    * evaluation claim (the span-level sibling is
    * [[graft.operators.TextAnalysis]]'s q51 contamination). The
    * benchmark side reduces to distinct 16-byte digests and broadcasts
    * (eval sets are tiny next to a training corpus); the corpus is
    * anti-joined in place — no shuffle of corpus text, one scan.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text"): DataFrame =
    joinBenchmarkDigests(corpus, benchmark, textCol, "left_anti")

  /** `corpus` joined on its md5 text digest to the distinct, broadcast
    * digests of `benchmark`: `"left_anti"` keeps the clean rows,
    * `"left"` keeps every row with `_m` true on the contaminated ones. */
  private[operators] def joinBenchmarkDigests(corpus: DataFrame,
      benchmark: DataFrame, textCol: String, joinType: String): DataFrame = {
    val benchDigests = benchmark
      .select(md5(col(textCol).cast("binary")).as("_h")).distinct()
      .withColumn("_m", lit(true))
    corpus.withColumn("_h", md5(col(textCol).cast("binary")))
      .join(broadcast(benchDigests), Seq("_h"), joinType)
      .drop("_h")
  }

  /** Near-dup pairs by normalized-key equality (blocking join).
    * The join key is the 16-byte md5 of the normalized key, not the key
    * text itself — the key is nearly document-length, so digesting it
    * map-side shrinks the self-join exchange from O(corpus text) to
    * O(16 bytes × docs). Same collision budget as [[exactDupGroups]].
    */
  def normalizedKeyPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.select(col(idCol).as("id"),
      md5(normalizedKey(col(textCol)).cast("binary")).as("kh"))
    keyed.as("a").join(keyed.as("b"),
        col("a.kh") === col("b.kh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_id_a"), col("b.id").as("doc_id_b"))
  }

  // ----------------------------------------------------------- minhash

  /** MinHash signature: one base xxhash64 per shingle, then `numHashes`
    * splitmix64 permutations inside the native `MinHashExpr` kernel
    * (single child evaluation per row — see graft.functions.Sketch for
    * why a `transform` lambda formulation is 60× slower).
    */
  def minHashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.Sketch.min_hash(transform(sh, x => xxhash64(x)), numHashes)

  /** MinHash + LSH banding: docs sharing any band key become candidate
    * pairs; est. Jaccard = matching signature positions / numHashes.
    * Returns (doc_id_a < doc_id_b, est_jaccard ≥ `minEstJaccard`), one
    * row per pair. Ids are an integral column of unique values; a null
    * id never pairs. Uniqueness is not checked (no job is spent on
    * it): on the capped path a repeated id pairs once per pair of its
    * rows that share an under-cap bucket.
    *
    * With a finite `maxBucket` (the scale path) candidates are verified
    * where the band exchange puts them: ONE exchange on (band, bkey)
    * carries each doc's id AND signature, and a bucket-local kernel
    * ([[lshBucketPairs]]) estimates every member pair and emits it only
    * from the FIRST band where the two share an under-cap bucket — so
    * each pair comes out once with no pair `distinct` and no signature
    * join-back. The trade: each of a doc's `bands` rows through the
    * band exchange carries its signature (8·numHashes bytes more than
    * the id and key), in place of a pair `distinct` and two signature
    * join-backs (three more exchanges plus their aggregation state and
    * hash tables). A bucket reads at most
    * `maxBucket + 1` members, so its state is bounded by
    * `maxBucket·(8 + 8·numHashes)` bytes.
    *
    * `maxBucket` caps candidate generation per (band, band-key) bucket —
    * a band key shared by 10⁶ documents (empty docs, boilerplate pages:
    * every band of an identical signature collides) otherwise
    * enumerates ~5·10¹¹ candidate pairs. Identical-SIGNATURE volume is
    * recovered losslessly as keeper stars ((min id, member) per group of
    * one `xxhash64(sig)`), kept only when the two share no under-cap
    * bucket and verified by their true estimate, so a 64-bit group-key
    * collision is filtered rather than trusted. Under the cap the
    * output equals the uncapped self-join's row for row. Genuinely
    * similar but not identical pairs whose every shared band is
    * over-cap are lost — the standard LSH bucket-cap trade.
    *
    * `maxBucket = Long.MaxValue` keeps the plain self-join on the band
    * key (an unbounded bucket could be corpus-sized); on it AQE splits
    * hot bands as skewed joins. */
  def minHashLshPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      minEstJaccard: Double = 0.5,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    val sig0 = minHashSignatures(docs, textCol, idCol, shingleSize, numHashes)
    // the signature table feeds the band pass and the count below (plus,
    // capped, the over-cap probe and the star pass; uncapped, the two
    // verify join-backs) — persisted so the shingle+minhash kernel, THE
    // corpus-scale pass of this family, runs once
    val sig = graft.CacheRegistry.persist(sig0)
    if (maxBucket == Long.MaxValue) {
      val banded = bandKeys(sig, "id", bands, numHashes)
      val a = banded.select(col("band"), col("bkey"), col("id").as("doc_id_a"))
      val b = banded.select(col("band"), col("bkey"), col("id").as("doc_id_b"))
      a.join(b, Seq("band", "bkey"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .select("doc_id_a", "doc_id_b").distinct()
        .join(sig.select(col("id").as("doc_id_a"), col("sig").as("sig_a")), "doc_id_a")
        .join(sig.select(col("id").as("doc_id_b"), col("sig").as("sig_b")), "doc_id_b")
        .withColumn("est_jaccard", estJaccard(
          graft.functions.Sketch.sig_match_count(col("sig_a"), col("sig_b")),
          numHashes))
        .filter(col("est_jaccard") >= minEstJaccard)
        .select("doc_id_a", "doc_id_b", "est_jaccard")
    } else {
      val idType = sig.schema("id").dataType
      val live = sig.filter(col("id").isNotNull)
        .select(col("id").cast("long").as("id"), col("sig"))
      val banded = bandKeys(live, "id", bands, numHashes, col("sig"))
      // A bucket never holds more members than the corpus has rows, so
      // ONE count on the persisted signatures (which pays the cache
      // build the kernel reuses) rules out every over-cap bucket when
      // the corpus is under the cap — the benchmark and sf0.1 regime.
      // Otherwise one small aggregate over the band keys lists the
      // over-cap buckets: at most n·bands/(maxBucket+1) of them.
      val overCap: Set[(Int, Long)] =
        if (sig.count() <= maxBucket) Set.empty
        else banded.groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBucket).select("band", "bkey")
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val rows = numHashes / bands
      val inBuckets = banded.groupBy(col("band"), col("bkey"))
        .as[(Int, Long), LshMember](
          Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong), MemberEnc)
        .flatMapGroups { (key, members) =>
          lshBucketPairs(key._1, members, maxBucket, bands, rows, overCap)
        }(PairEnc)
      val pairs =
        if (overCap.isEmpty) inBuckets
        else
          // keeper-star recovery of identical-signature groups the cap
          // may have dropped: members stream in id order, so the keeper
          // (min id) comes first and only its signature is held; n−1
          // linear rows per group, never C(n, 2)
          inBuckets.union(live.groupBy(xxhash64(col("sig")))
            .as[Long, LshMember](Encoders.scalaLong, MemberEnc)
            .flatMapSortedGroups(col("id")) { (_, members) =>
              lshStarPairs(members, bands, rows, overCap)
            }(PairEnc))
      pairs.toDF()
        .withColumn("est_jaccard", estJaccard(col("matches"), numHashes))
        .filter(col("est_jaccard") >= minEstJaccard)
        .select(col("doc_id_a").cast(idType).as("doc_id_a"),
          col("doc_id_b").cast(idType).as("doc_id_b"), col("est_jaccard"))
    }
  }

  /** One member of a [[minHashLshPairs]] bucket; `sig` is null for a
    * null text. */
  private[operators] final case class LshMember(id: Long, sig: Array[Long])

  /** A [[minHashLshPairs]] pair before its estimate: `matches` counts
    * the agreeing signature positions, None when either signature is
    * null. */
  private[operators] final case class LshPair(doc_id_a: Long, doc_id_b: Long,
      matches: Option[Int])

  private lazy val MemberEnc = Encoders.product[LshMember]
  private lazy val PairEnc = Encoders.product[LshPair]

  private def sigData(m: LshMember): ArrayData =
    if (m.sig == null) null else UnsafeArrayData.fromPrimitiveArray(m.sig)

  /** A member's band keys by the one [[graft.functions.Sketch.bandKeys]]
    * definition, so a 64-bit key collision behaves as it does in the
    * band exchange. */
  private def keysOf(sig: ArrayData, bands: Int, rows: Int): Array[Long] =
    graft.functions.Sketch.bandKeys(sig, bands, rows).toLongArray()

  /** Whether two members' keys agree on a band below `limit` whose
    * bucket is under the cap — i.e. the pair came out of that bucket. */
  private def sharedUnderCap(ka: Array[Long], kb: Array[Long], limit: Int,
      overCap: Set[(Int, Long)]): Boolean = {
    var b = 0
    while (b < limit) {
      if (ka(b) == kb(b) && (overCap.isEmpty || !overCap.contains((b, ka(b)))))
        return true
      b += 1
    }
    false
  }

  private def lshPair(idA: Long, sigA: ArrayData, idB: Long, sigB: ArrayData): LshPair =
    LshPair(idA, idB,
      if (sigA == null || sigB == null) None
      else Some(graft.functions.Sketch.sigMatchCount(sigA, sigB)))

  /** The bucket-local verify of [[minHashLshPairs]] for one bucket of
    * band `band`: reads at most `maxBucket + 1` members; a bucket over
    * the cap or under 2 members emits nothing. Every member pair with
    * `id_a < id_b` (equal ids never pair) is estimated and emitted
    * unless the two already share an under-cap bucket of a lower band,
    * so over all buckets each pair comes out exactly once. */
  private[operators] def lshBucketPairs(band: Int, members: Iterator[LshMember],
      maxBucket: Long, bands: Int, rows: Int,
      overCap: Set[(Int, Long)]): Iterator[LshPair] = {
    val ms = scala.collection.mutable.ArrayBuffer.empty[LshMember]
    while (members.hasNext && ms.size <= maxBucket) ms += members.next()
    if (ms.size < 2 || ms.size > maxBucket) return Iterator.empty
    val sigs = ms.map(sigData)
    val keys = sigs.map(keysOf(_, bands, rows))
    Iterator.range(0, ms.size).flatMap { i =>
      Iterator.range(i + 1, ms.size).flatMap { j =>
        val (a, b) = if (ms(i).id < ms(j).id) (i, j) else (j, i)
        if (ms(a).id == ms(b).id || sharedUnderCap(keys(a), keys(b), band, overCap))
          Iterator.empty
        else Iterator.single(lshPair(ms(a).id, sigs(a), ms(b).id, sigs(b)))
      }
    }
  }

  /** Keeper stars of one identical-signature group, members in id
    * order: (keeper = first id, member) for every larger-id member that
    * shares no under-cap bucket with the keeper (such a pair already
    * came out of [[lshBucketPairs]]). Holds one signature. */
  private[operators] def lshStarPairs(members: Iterator[LshMember], bands: Int,
      rows: Int, overCap: Set[(Int, Long)]): Iterator[LshPair] =
    if (!members.hasNext) Iterator.empty
    else {
      val keeper = members.next()
      val kSig = sigData(keeper)
      val kKeys = keysOf(kSig, bands, rows)
      members.filter(_.id != keeper.id).flatMap { m =>
        val mSig = sigData(m)
        if (sharedUnderCap(kKeys, keysOf(mSig, bands, rows), bands, overCap))
          Iterator.empty
        else Iterator.single(lshPair(keeper.id, kSig, m.id, mSig))
      }
    }

  /** MinHash signature table (id, sig) — the PERSISTABLE form of the
    * fuzzy-dedup index: compute once per corpus snapshot, store as
    * parquet, and band-join each incoming delivery against it
    * ([[minHashLshPairsAcross]]) without re-signing the corpus.
    */
  def minHashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3,
      numHashes: Int = 64): DataFrame =
    // fused signing pass (round 13): tokenize + shingle + xxhash64 in
    // ONE native kernel over the raw text bytes — signatures are
    // bit-identical to minHashSignature(shingles(tokensOf(text)))
    // because a k-min sketch over the positional (non-distinct)
    // shingle stream equals the sketch over the distinct set
    // (duplicates never change a minimum; DedupSpec parity pin).
    // Signing is THE corpus-scale pass of the MinHash family — at
    // 100 TB this is the pass whose constant matters most.
    docs.select(col(idCol).as("id"),
      graft.functions.Sketch.min_hash(
        graft.functions.Sketch.shingle_hash_stream_text(
          col(textCol), shingleSize), numHashes).as("sig"))

  /** (keeper = min id, member) star pairs of every ≥2-member group
    * under `key` — the lossless LINEAR encoding of an
    * identical-signature group (n−1 rows, never C(n,2)) shared by
    * every capped dedup family (MinHash bands, Hamming chunks,
    * embedding buckets, semantic clusters). Emitted pairs are
    * CANDIDATES: each call site re-verifies them with its own
    * true-similarity filter, so a group-key collision is filtered,
    * never trusted. Only (8-byte key, id) rows reach the exchange. */
  private def keeperStars(rows: DataFrame, id: Column, key: Column): DataFrame = {
    val hashed = rows.select(id.as("id"), key.as("sk"))
    val groups = hashed.groupBy("sk")
      .agg(min(col("id")).as("star_a"), count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("sk", "star_a")
    hashed.join(groups, Seq("sk"))
      .filter(col("id") =!= col("star_a"))
      .select(col("star_a"), col("id").as("star_b"))
  }

  /** Band keys of a signature table — the shared LSH banding
    * expression of [[minHashLshPairs]] and [[minHashLshPairsAcross]]
    * (one definition so the self-pair and across-pair paths cannot
    * diverge). Keys are `xxhash64(slice(sig, b*rows+1, rows), b)` from
    * the native [[graft.functions.BandKeysExpr]]; they are stored in
    * served indexes ([[minHashBandTable]]), so the hash is fixed. */
  private def bandKeys(sigs: DataFrame, idOut: String, bands: Int,
      numHashes: Int, carry: Column*): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    sigs.select((col("id").as(idOut) +: carry) :+
      posexplode(graft.functions.Sketch.band_keys(col("sig"), bands,
        numHashes / bands)).as(Seq("band", "bkey")): _*)
  }

  /** Signature-agreement estimate from a matching-position count — the
    * shared verify rounding. */
  private def estJaccard(matches: Column, numHashes: Int): Column =
    round(matches.cast("double") / numHashes, 4)

  /** Incremental fuzzy dedup: near-dup candidate pairs BETWEEN a new
    * delivery and the existing corpus, over their signature tables —
    * the per-delivery guard that keeps a continuously-ingested corpus
    * deduplicated without ever re-pairing the corpus against itself.
    * Same banding/verify discipline as [[minHashLshPairs]]; only band
    * keys meet in the join, and the corpus side's signatures are the
    * stored index. Returns (corpus_id, batch_id, est_jaccard).
    *
    * `maxBucket` caps the CORPUS side of each (band, band-key) bucket —
    * the unbounded side at 100 TB (the delivery is delivery-sized by
    * construction). A batch doc whose only shared bands sit in over-cap
    * corpus buckets is recovered when its SIGNATURE matches a stored
    * one: it pairs the group's corpus keeper (min id) — one row per
    * batch doc, which is all an is-this-delivery-doc-a-dup consumer
    * needs, never |corpus group| × |batch group| rows. Star pairs flow
    * through the same signature verify, so group-key collisions are
    * filtered by their true estimate. Under the cap, output is
    * identical to the uncapped join.
    *
    * `overCapBands` / `starKeepers` are the cap's BOOKKEEPING tables,
    * materializable at index BUILD time ([[minHashOverCapBands]] /
    * [[minHashStarKeepers]], the q102b served-index shape): the
    * signature index is immutable between deliveries, so its band
    * counts and star keepers are too — supplying them turns the
    * per-delivery corpus-scale aggregates into a broadcast of a tiny
    * file plus (only when the corpus is actually dirty) one pruned
    * index scan. Omitted, both are computed from `corpusSigs` in-query
    * (the q102 in-memory shape). Either way a SECOND-LEVEL PROBE sends
    * a clean corpus (no over-cap band — the common case) down the
    * plain plan: no prune, no star recovery, no extra distinct. */
  def minHashLshPairsAcross(corpusSigs: DataFrame, batchSigs: DataFrame,
      bands: Int = 16, numHashes: Int = 64,
      minEstJaccard: Double = 0.5,
      maxBucket: Long = Long.MaxValue,
      overCapBands: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None,
      corpusBandTable: Option[DataFrame] = None,
      corpusBinSigs: Option[DataFrame] = None): DataFrame =
    minHashLshPairsAcrossKeyed(corpusSigs, batchSigs, bands, numHashes,
      minEstJaccard, maxBucket, xxhash64(_), overCapBands, starKeepers,
      corpusBandTable, corpusBinSigs)

  /** Over-cap (band, bkey) list of a signature index — the cap
    * bookkeeping [[minHashLshPairsAcross]] otherwise re-aggregates per
    * delivery. TINY by construction: every emitted row represents more
    * than `maxBucket` corpus signatures, so the table broadcasts.
    * Build it ONCE when the index is signed (q102b's state dir) with
    * the same (bands, numHashes, maxBucket) the serve path uses. */
  def minHashOverCapBands(sigs: DataFrame, bands: Int = 16,
      numHashes: Int = 64, maxBucket: Long = 100000L): DataFrame =
    bandKeys(sigs, "id", bands, numHashes)
      .groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket).select("band", "bkey")

  /** Star-keeper table of a signature index — `(sh = xxhash64(sig),
    * corpus_id = min id)` per identical-signature group: the OTHER
    * per-delivery corpus aggregate of the capped across-join, equally
    * immutable between deliveries. One row per DISTINCT signature
    * (16 bytes each); at serve time it is scanned with the
    * delivery-side hash set broadcast against it, never aggregated and
    * never itself broadcast. */
  def minHashStarKeepers(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), xxhash64(col("sig")).as("sh"))
      .groupBy("sh").agg(min(col("id")).as("corpus_id"))

  /** The corpus band-key table `(id, band, bkey)` — the FOURTH
    * sign-time table of a served MinHash index (round 12): banding is
    * 16 xxhash64 calls over 64-long array slices per signature, and
    * recomputing it over the whole corpus on EVERY delivery made the
    * MinHash across the family's only form whose fixed-delivery cost
    * grew 3.4× at a 10× corpus (BASELINE scale probe; the embedding
    * index stores its buckets, the postings index IS its keys).
    * Materialized once at sign time, a delivery scans 20-byte band
    * rows instead of re-hashing 512-byte signatures. */
  def minHashBandTable(sigs: DataFrame, bands: Int = 16,
      numHashes: Int = 64): DataFrame =
    bandKeys(sigs, "id", bands, numHashes)

  /** [[minHashLshPairsAcross]] with an injectable star group key —
    * test seam only: DedupSpec forces every signature into ONE star
    * group (`_ => lit(0)`) to pin that star candidates pass through
    * the SAME estimate verify as banded ones (a 64-bit group-key
    * collision must be filtered by its true estimate, never trusted).
    * `corpusBandTable` serves the sign-time [[minHashBandTable]];
    * omitted, banding is computed from `corpusSigs` in-query. */
  private[graft] def minHashLshPairsAcrossKeyed(corpusSigs: DataFrame,
      batchSigs0: DataFrame, bands: Int, numHashes: Int,
      minEstJaccard: Double, maxBucket: Long,
      starKey: Column => Column,
      overCapBands: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None,
      corpusBandTable: Option[DataFrame] = None,
      corpusBinSigs: Option[DataFrame] = None): DataFrame = {
    // the delivery's signatures feed up to THREE consumers (band keys,
    // star probe, verify) — delivery-bounded by construction, so
    // persist once instead of re-signing the batch per consumer
    // (round-13 probe: the unpersisted plan re-tokenized and re-hashed
    // the delivery three times, the dominant fixed cost per call)
    val batchSigs = graft.CacheRegistry.persist(batchSigs0)
    val requested = maxBucket != Long.MaxValue
    var corpusBands = corpusBandTable
      .map(_.select(col("id").as("corpus_id"), col("band"), col("bkey")))
      .getOrElse(bandKeys(corpusSigs, "corpus_id", bands, numHashes))
    // over-cap band keys: tiny by construction — read from the
    // persisted index when served (computed ONCE at sign time), one
    // persisted corpus aggregate otherwise
    val over = if (!requested) None else Some(overCapBands.getOrElse(
      graft.CacheRegistry.persist(
        corpusBands.groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBucket).select("band", "bkey"))))
    // second-level probe (the minHashLshPairs discipline): a clean
    // corpus skips the prune, the star recovery and its extra distinct
    // — and when the list is served state, the probe costs a limit-1
    // read of a tiny file, not a corpus aggregate
    val capped = over.exists(o => !o.isEmpty)
    if (capped)
      // anti-join against the tiny over-cap list (equivalent to the
      // semi-join on its complement, but BROADCASTABLE — the under-cap
      // complement is corpus-band-scale)
      corpusBands = corpusBands.join(broadcast(over.get),
        Seq("band", "bkey"), "left_anti")
    var cand = corpusBands
      .join(bandKeys(batchSigs, "batch_id", bands, numHashes),
        Seq("band", "bkey"))
      .select("corpus_id", "batch_id").distinct()
    if (capped) {
      // keepers are corpus-signature-scale: when served they are
      // SCANNED with the delivery hash set broadcast against them
      // (the join is its own prune); the in-memory fallback aggregates
      // corpusSigs under the injectable starKey test seam
      val keepers = starKeepers.getOrElse(corpusSigs
        .select(col("id"), starKey(col("sig")).as("sh"))
        .groupBy("sh").agg(min(col("id")).as("corpus_id")))
      val star = keepers
        .join(broadcast(batchSigs
          .select(col("id").as("batch_id"), starKey(col("sig")).as("sh"))),
          Seq("sh"))
        .select("corpus_id", "batch_id")
      cand = cand.unionByName(star).distinct()
    }
    // verify: candidates join back to corpus signatures. When the
    // caller serves the BINARY-PACKED signature table (sign-time
    // [[minHashBinSigs]]), the corpus-linear scan reads plain byte
    // rows — parquet decodes those ~4× faster than the repeated-group
    // long arrays (round-13 probe) — and the match count is the native
    // [[graft.functions.PackedMatchCountExpr]] instead of interpreted
    // zip_with/filter lambdas. est values are bit-identical: equal
    // packed words ≡ equal longs, and the count→round arithmetic is
    // the same IEEE expression.
    val corpusVerify = corpusBinSigs
      .map(_.select(col("id").as("corpus_id"), col("sigb").as("sigb_a")))
      .getOrElse(corpusSigs.select(col("id").as("corpus_id"),
        graft.functions.Sketch.pack_longs(col("sig")).as("sigb_a")))
    cand
      .join(corpusVerify, "corpus_id")
      .join(batchSigs.select(col("id").as("batch_id"),
        graft.functions.Sketch.pack_longs(col("sig")).as("sigb_b")),
        "batch_id")
      .withColumn("est_jaccard",
        round(graft.functions.Sketch.packed_match_count(
          col("sigb_a"), col("sigb_b")).cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("corpus_id", "batch_id", "est_jaccard")
  }

  // ------------------------------ minhash index (slotted state)

  /** Per-(band, band-key) signature counts of a MinHash signature
    * table — the cap bookkeeping the slotted MinHash index stores
    * NEXT TO each delta. Unlike the 64-bit pigeonhole chunk counts
    * the band-key domain is UNBOUNDED, so the serve-time sum is
    * KEY-PRUNED ([[loadMinHashOverCapFor]], the postings-dfs
    * discipline): only bands the delivery actually probes matter for
    * its anti-join prune, and per-part rows per key are ≤ 1. */
  def minHashBandCounts(sigs: DataFrame, bands: Int = 16,
      numHashes: Int = 64): DataFrame =
    bandKeys(sigs, "id", bands, numHashes)
      .groupBy("band", "bkey").agg(count(lit(1)).as("bn"))

  /** Persisted MinHash signature index — the TENTH
    * [[graft.state.SlotStore]] client (the lexical fuzzy family's
    * landing-zone state): deliveries land as self-committing
    * `mh-delta-<slot>` dirs (sub-tables `sigs/` = (id, sig) and
    * `cnt/` = [[minHashBandCounts]]), compactions as `mh-snap-<slot>`.
    * Host construction keeps stored signatures UNIQUE (an identical
    * signature always pairs — banding under cap, star keepers over it
    * — and the later arrival drops), so `(xxhash64(sig), id)`
    * projected off the index IS the star-keeper table, no aggregate.
    * `sigs` should be persisted by the caller. */
  def saveMinHashDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, sigs: DataFrame, slot: Option[Long] = None,
      snapshot: Boolean = false, bands: Int = 16,
      numHashes: Int = 64): Unit = {
    val parts = mhIndexParts(spark, path)
    val next = slot.getOrElse(parts.map(_._2).foldLeft(-1L)(math.max) + 1)
    graft.state.SlotStore.requireNotSuperseded(parts, "mh-snap", next,
      "saveMinHashDelta")
    val kind = if (snapshot) "snap" else "delta"
    commitPart(spark, s"$path/mh-$kind-$next") { dir =>
      sigs.write.mode("overwrite").parquet(s"$dir/sigs")
      minHashBandCounts(sigs, bands, numHashes)
        .write.mode("overwrite").parquet(s"$dir/cnt")
      // the delta's BAND TABLE (id, band, bkey) — ~60% more state per
      // signature, but the serving batch then SCANS 20-byte band rows
      // instead of re-hashing every stored 512-byte signature (the
      // fixed-delivery scale probe measured in-query banding growing
      // 5.7× at a 10× corpus vs 1.6× for scan-only forms)
      minHashBandTable(sigs, bands, numHashes)
        .write.mode("overwrite").parquet(s"$dir/bands")
      // the delta's BINARY-PACKED signatures (id, sigb) — the verify
      // stage's scan side: parquet decodes plain byte rows ~4× faster
      // than the repeated-group long arrays (round-13 probe), and the
      // per-delivery verify is the across join's one remaining
      // corpus-linear read
      minHashBinSigs(sigs)
        .write.mode("overwrite").parquet(s"$dir/sigsbin")
    }
  }

  /** Binary-packed form of a signature table — `(id, sigb)` with the
    * 64 minhash longs big-endian-concatenated
    * ([[graft.functions.PackLongsExpr]]). The serve-side verify table
    * of the across join. */
  def minHashBinSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("id"),
      graft.functions.Sketch.pack_longs(col("sig")).as("sigb"))

  /** The stored band table as ONE flat multi-path scan of the live
    * parts' `bands/` sub-tables — the served corpus side of the
    * streaming host's [[minHashLshPairsAcross]] band join. */
  def loadMinHashBandTable(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(mhIndexParts(spark, path),
      "mh-delta", "mh-snap")
    require(parts.nonEmpty, s"no committed minhash parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/bands"))
  }

  private def mhIndexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("mh-delta", "mh-snap"))

  /** Committed slot numbers — the replay-skip set for the streaming
    * host. */
  def committedMinHashSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    mhIndexParts(spark, path).map(_._2)

  /** LIVE slots (latest snapshot + later deltas) with their snapshot
    * flag. */
  def liveMinHashSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Boolean)] =
    graft.state.SlotStore.liveParts(mhIndexParts(spark, path),
      "mh-delta", "mh-snap")
      .map(p => (p._2, p._1 == "mh-snap"))

  /** The index as ONE flat multi-path scan of the live parts'
    * `sigs/` sub-tables (unique per signature by host construction —
    * no merge). */
  def loadMinHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(mhIndexParts(spark, path),
      "mh-delta", "mh-snap")
    require(parts.nonEmpty, s"no committed minhash parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/sigs"))
  }

  /** The binary-packed signature tables of the live parts as ONE flat
    * multi-path scan — the served verify side
    * ([[minHashLshPairsAcross]]'s `corpusBinSigs`). */
  def loadMinHashBinSigs(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(mhIndexParts(spark, path),
      "mh-delta", "mh-snap")
    require(parts.nonEmpty, s"no committed minhash parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/sigsbin"))
  }

  /** Over-cap (band, bkey) rows among exactly the DELIVERY's band
    * keys: the live parts' count tables scanned with the delivery's
    * band-key set broadcast against them, summed, filtered — never a
    * corpus-scale aggregate. Bands the delivery does not probe cannot
    * affect its anti-join prune, so restricting to its keys is
    * lossless for the per-batch join. */
  def loadMinHashOverCapFor(spark: org.apache.spark.sql.SparkSession,
      path: String, batchSigs: DataFrame, maxBucket: Long,
      bands: Int = 16, numHashes: Int = 64): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(mhIndexParts(spark, path),
      "mh-delta", "mh-snap")
    require(parts.nonEmpty, s"no committed minhash parts under $path")
    val batchKeys = bandKeys(batchSigs, "id", bands, numHashes)
      .select("band", "bkey").distinct()
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/cnt"))
      .join(broadcast(batchKeys), Seq("band", "bkey"), "left_semi")
      .groupBy("band", "bkey").agg(sum(col("bn")).as("bn"))
      .filter(col("bn") > maxBucket)
      .select("band", "bkey")
  }

  /** Delete parts a snapshot superseded — housekeeping. */
  def sweepMinHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.state.SlotStore.sweepSuperseded(spark, path, "mh-delta",
      "mh-snap")

  // ----------------------------------------------------------- simhash

  /** 64-bit SimHash of a token array — pure row-local projection via the
    * native `SimHashExpr` kernel. */
  def simHash64(tokens: Column): Column =
    graft.functions.Sketch.sim_hash(transform(tokens, t => xxhash64(t)))

  /** SimHash near-dup pairs. Pigeonhole banding: split the 64-bit hash
    * into 4 chunks of 16 bits — any pair with Hamming distance ≤ 3
    * shares at least one exact chunk, so candidate generation is an
    * equi-join on (chunk index, chunk value) and only candidates pay the
    * popcount verification.
    */
  def simHashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"),
      simHash64(tokensOf(col(textCol))).as("sim"))
    // a chunk bucket can never exceed the corpus row count — one
    // metadata-cheap count skips the cap machinery (persist + star
    // recovery) at sub-cap sizes. The cap itself still passes through
    // (r17): at or under it no bucket can exceed maxBucket, so the
    // capped member-list path is candidate-identical to the uncapped
    // self-join while paying one exchange fewer (guide §2.4).
    if (maxBucket == Long.MaxValue)
      hamming64Pairs(sigs, "id", "sim", maxHamming)
    else if (docs.count() <= maxBucket)
      hamming64Pairs(sigs, "id", "sim", maxHamming, maxBucket)
    else hamming64PairsCapped(sigs, "id", "sim", maxHamming, maxBucket)
  }

  /** Hamming-≤k pairs over ANY 64-bit signature column (SimHash,
    * image dHash, audio fingerprint …) by 4×16-bit pigeonhole banding:
    * a pair within Hamming distance ≤ 3 shares at least one exact
    * chunk, so candidate generation is an equi-join on (chunk index,
    * chunk value) — only candidates pay the popcount verification, and
    * the exchange carries (chunk, 2-byte value, id, 8-byte sig) rows,
    * never the underlying media/text.
    *
    * `maxBucket` caps candidate generation per (chunk, value) bucket:
    * a DEGENERATE signature shared by a million members (all-black
    * thumbnails, silence) otherwise enumerates ~5·10¹¹ candidate pairs
    * — the quadratic blowup that kills the join at corpus scale. The
    * recall cut is two-fold and deliberate: (a) pairs of IDENTICAL
    * over-cap signatures are recovered losslessly by the GROUP form
    * ([[signatureDupGroups]] — one row per bucket instead of C(n,2)
    * pairs); (b) genuine Hamming-1..3 pairs whose ONLY shared chunks
    * are over-cap values (e.g. a popular silence chunk) are LOST —
    * the standard LSH bucket-cap trade, which is why the default is
    * uncapped and callers opt in per corpus. */
  def hamming64Pairs(sig: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Long = Long.MaxValue): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for distance <= 3")
    val chunked = sig.select(col(idCol).as("id"), col(hashCol).as("sim"))
      .select(col("id"), col("sim"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk", "cval")))
    val cand =
      if (maxBucket != Long.MaxValue) {
        // Capped path (r17, guide §2.4): ONE exchange on the chunk key
        // builds per-bucket member lists with the SIZE-CAPPED collect
        // (state bounded at maxBucket+1 (id, sig) pairs on every
        // partial buffer), the bucket cap is the list-size filter, and
        // candidate pairs explode ROW-LOCALLY. The previous shape read
        // the chunk explode three ways (bucket-count aggregate,
        // semi-join prune, a×b self-join) — two extra re-planned AQE
        // stages per invocation. Pair multiplicity is identical: the
        // self-join emitted one row per shared chunk, as does the
        // per-bucket explode, and the final min-agg collapses both the
        // same way. Sub-cap corpora (where no bucket CAN be over cap)
        // produce identical candidates to the uncapped join, so
        // callers pass the cap through their sub-cap short-circuits.
        chunked.groupBy("chunk", "cval")
          .agg(graft.functions.BoundedAgg.collect_capped_pair(
            col("id"), col("sim"), maxBucket).as("ms"))
          .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
          .select(graft.functions.BoundedAgg.member_pairs(col("ms"))
            .as(Seq("doc_id_a", "sim_a", "doc_id_b", "sim_b")))
      } else {
        // uncapped: the self-join form stands — a member list without
        // the bucket bound could hold the whole corpus in one row
        val a = chunked.select(col("chunk"), col("cval"),
          col("id").as("doc_id_a"), col("sim").as("sim_a"))
        val b = chunked.select(col("chunk"), col("cval"),
          col("id").as("doc_id_b"), col("sim").as("sim_b"))
        a.join(b, Seq("chunk", "cval"))
          .filter(col("doc_id_a") < col("doc_id_b"))
          .select("doc_id_a", "sim_a", "doc_id_b", "sim_b")
      }
    cand
      .withColumn("hamming",
        call_function("bit_count", col("sim_a").bitwiseXOR(col("sim_b"))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("doc_id_a", "doc_id_b")
      .agg(min(col("hamming")).as("hamming"))
  }

  /** The GROUP form for identical signatures — where [[hamming64Pairs]]'
    * `maxBucket` sends the exact-duplicate volume: one row per 64-bit
    * signature shared by ≥2 ids, with the keeper (min id) and member
    * count. A million-member degenerate bucket is ONE row here versus
    * half a trillion enumerated pairs; one hash aggregate, map-side
    * combined, nothing but (8-byte hash, id) in the exchange. */
  def signatureDupGroups(sig: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    sig.groupBy(col(hashCol).as("sig"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)

  /** Capped Hamming pair join with LOSSLESS identical-signature
    * recovery — the production form of [[hamming64Pairs]] for real
    * crawls, where degenerate signatures (all-black thumbnails,
    * silence, empty documents) are routine:
    *
    *   - the banding join runs with `maxBucket`, so no (chunk, value)
    *     bucket ever enumerates more than C(maxBucket, 2) candidates —
    *     the quadratic cliff is structurally gone;
    *   - every identical-signature group (the exact-dup volume the cap
    *     would otherwise drop) is re-emitted as a KEEPER STAR: the
    *     group's min id pairs each other member at Hamming 0 — n−1
    *     rows per group instead of C(n, 2), the pair-list encoding of
    *     [[signatureDupGroups]] (same connectivity, same keeper, and
    *     the full clique is reconstructible from the star). A
    *     million-member degenerate bucket costs 10⁶−1 rows, not
    *     5·10¹¹.
    *
    * What is (deliberately) lost vs the uncapped join: Hamming-1..3
    * pairs of NON-identical signatures whose every shared chunk sits
    * in an over-cap bucket, and the non-keeper clique edges inside
    * over-cap identical groups — the standard LSH bucket-cap trade.
    * Under the cap, output is identical to [[hamming64Pairs]] (star
    * edges are subsumed by the clique in the final min-agg).
    *
    * The signature table is persisted: three consumers read it (the
    * banding join's two sides share one scan via the self-join, the
    * group aggregate, and the member re-join), and signatures are
    * (id, 8 bytes) — negligible storage, expensive to recompute when
    * the upstream is an image decode. */
  def hamming64PairsCapped(sig: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Long = 100000L): DataFrame = {
    val s = graft.CacheRegistry.persist(
      sig.select(col(idCol).as("id"), col(hashCol).as("sig64")))
    // the count pays the cache build the banding pass reuses either
    // way; a sub-cap corpus cannot have an over-cap bucket, so the
    // group aggregate + star join are skipped entirely (the cap still
    // passes through — the member-list path is candidate-identical
    // at sub-cap sizes and one exchange cheaper, r17)
    if (s.count() <= maxBucket)
      return hamming64Pairs(s, "id", "sig64", maxHamming, maxBucket)
    val banded = hamming64Pairs(s, "id", "sig64", maxHamming, maxBucket)
    // keeper = min(id) per group, so keeper < id on every emitted row;
    // the key IS the 8-byte signature (no re-hash), so star pairs are
    // exact Hamming-0 — no downstream verify needed
    val star = keeperStars(s, col("id"), col("sig64"))
      .select(col("star_a").as("doc_id_a"), col("star_b").as("doc_id_b"),
        lit(0L).as("hamming"))
    banded.unionByName(star)
      .groupBy("doc_id_a", "doc_id_b")
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Keeper table of a 64-bit signature index — `(sig, corpus_id =
    * min id)` per distinct signature value: the star-recovery state of
    * [[hamming64PairsAcross]], materializable at index build time next
    * to the signatures themselves. The key IS the signature (no
    * re-hash), so served star pairs are exact Hamming-0 — collision-
    * free by construction, no downstream verify needed. */
  def signatureKeepers(sig: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    sig.groupBy(col(hashCol).as("sig"))
      .agg(min(col(idCol)).as("corpus_id"))

  /** Over-cap (chunk, cval) list of a 64-bit signature index — the cap
    * bookkeeping of [[hamming64PairsAcross]], materializable at build
    * time. Tiny by construction (each row represents more than
    * `maxBucket` corpus signatures), so a delivery broadcasts it. */
  def signatureOverCapChunks(sig: DataFrame, idCol: String,
      hashCol: String, maxBucket: Long = 100000L): DataFrame =
    sig.select(col(hashCol).as("sig"))
      .select(posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "cval")))
      .groupBy("chunk", "cval").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket).select("chunk", "cval")

  /** Delivery-time Hamming near-dedup over ANY persisted 64-bit
    * signature index (image dHash, audio fingerprint, SimHash) — what
    * [[minHashLshPairsAcross]] is to the lexical family: candidate
    * pairs BETWEEN a delivery's signatures and the stored corpus
    * index, by the same 4×16-bit pigeonhole banding as the self-form,
    * so a landing zone re-ingesting re-encoded media never re-pairs
    * the corpus against itself. Both sides are (idCol, hashCol)
    * tables; returns `(corpus_id, batch_id, hamming)` with the min
    * Hamming per pair.
    *
    * `maxBucket` caps the CORPUS side of each (chunk, value) bucket —
    * the unbounded side at 100 TB. A delivery signature IDENTICAL to
    * an over-cap stored one (all-black thumbnails, silence) pairs the
    * group's corpus keeper at Hamming 0 via [[signatureKeepers]]: one
    * row per delivery doc, never |group|² rows, and exact by
    * construction (the star key IS the signature). `overCapChunks` /
    * `starKeepers` serve the cap's bookkeeping from the index build
    * ([[signatureOverCapChunks]] / [[signatureKeepers]]); omitted,
    * both are computed in-query. A second-level probe sends a clean
    * corpus down the plain plan either way. What is lost over-cap:
    * Hamming-1..k pairs whose every shared chunk is over cap — the
    * standard bucket-cap trade, same as the self-form. */
  def hamming64PairsAcross(corpusSig: DataFrame, batchSig0: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int = 3,
      maxBucket: Long = Long.MaxValue,
      overCapChunks: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk banding guarantees recall only for distance <= 3")
    // the delivery's signatures feed the chunk join and (capped) the
    // star probe — delivery-bounded, persist once instead of
    // re-signing the batch per consumer (round-13 probe: the
    // unpersisted q37b plan re-tokenized and re-hashed the delivery
    // per consumer, the dominant fixed cost per call)
    val batchSig = graft.CacheRegistry.persist(batchSig0)
    def chunked(df: DataFrame, idOut: String, sigOut: String) =
      df.select(col(idCol).as(idOut), col(hashCol).as(sigOut))
        .select(col(idOut), col(sigOut),
          posexplode(array((0 until 4).map(c =>
            shiftright(col(sigOut), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
            .as(Seq("chunk", "cval")))
    var corpusChunks = chunked(corpusSig, "corpus_id", "sig_a")
    val requested = maxBucket != Long.MaxValue
    // over-cap chunk list: tiny — served from the index when supplied,
    // one persisted corpus aggregate otherwise
    val over = if (!requested) None else Some(overCapChunks.getOrElse(
      graft.CacheRegistry.persist(
        corpusChunks.groupBy("chunk", "cval").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBucket).select("chunk", "cval"))))
    // second-level probe: a clean corpus takes the plain band join
    val capped = over.exists(o => !o.isEmpty)
    if (capped)
      corpusChunks = corpusChunks.join(broadcast(over.get),
        Seq("chunk", "cval"), "left_anti")
    var pairs = corpusChunks
      .join(chunked(batchSig, "batch_id", "sig_b"), Seq("chunk", "cval"))
      .withColumn("hamming",
        call_function("bit_count",
          col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select("corpus_id", "batch_id", "hamming")
    if (capped) {
      // star recovery: served keepers are SCANNED with the broadcast
      // delivery signature set against them (never aggregated, never
      // broadcast); the in-memory fallback aggregates the corpus side
      val keepers = starKeepers.getOrElse(
        signatureKeepers(corpusSig, idCol, hashCol))
      val star = keepers
        .join(broadcast(batchSig.select(col(idCol).as("batch_id"),
          col(hashCol).as("sig"))), Seq("sig"))
        .select(col("corpus_id"), col("batch_id"), lit(0L).as("hamming"))
      pairs = pairs.unionByName(star)
    }
    pairs.groupBy("corpus_id", "batch_id").agg(min(col("hamming")).as("hamming"))
  }

  // ------------------------------------- signature index (slotted state)

  /** Pigeonhole chunk counts of a flagged signature table — the cap
    * bookkeeping the slotted signature index stores NEXT TO each
    * delta: `(decoded, chunk, cval, n)`. Counts are ADDITIVE across
    * parts and the key domain is bounded (2 flags × 4 chunks × 2¹⁶
    * values ≤ 524 288 rows whatever the corpus size), so the
    * union-sum at serve time is always tiny. */
  def signatureChunkCounts(sigs: DataFrame): DataFrame =
    sigs.select(col("decoded"), col("sig"))
      .select(col("decoded"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk", "cval")))
      .groupBy("decoded", "chunk", "cval").agg(count(lit(1)).as("n"))

  /** Persisted flagged-signature index — the SIXTH
    * [[graft.state.SlotStore]] client (the q117b/q121b lifecycle for
    * 64-bit signature streams): deliveries land as self-committing
    * `sig-delta-<slot>` dirs, compactions as `sig-snap-<slot>`
    * (supersede every part with slot ≤ k by construction), torn
    * writes ignored. Each part holds TWO sub-tables: `sigs/`
    * (id, sig, decoded — the delivery's first-arrival unique
    * signatures) and `cnt/` (its [[signatureChunkCounts]]) — so the
    * cap's bookkeeping rides the state and a serving batch never
    * aggregates the corpus ([[loadSignatureOverCap]] sums the tiny
    * bounded count parts instead). The part-ROOT `_SUCCESS` is
    * touched LAST as the commit marker (a crash between the
    * sub-tables leaves a torn, invisible dir the retry overwrites).
    * `sigs` should be persisted by the caller (both sub-table writes
    * read it). */
  def saveSignatureDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, sigs: DataFrame, slot: Option[Long] = None,
      snapshot: Boolean = false): Unit = {
    val parts = sigIndexParts(spark, path)
    val next = slot.getOrElse(parts.map(_._2).foldLeft(-1L)(math.max) + 1)
    graft.state.SlotStore.requireNotSuperseded(parts, "sig-snap", next,
      "saveSignatureDelta")
    val kind = if (snapshot) "snap" else "delta"
    commitPart(spark, s"$path/sig-$kind-$next") { dir =>
      sigs.write.mode("overwrite").parquet(s"$dir/sigs")
      signatureChunkCounts(sigs).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/cnt")
    }
  }

  /** Write a multi-table part dir with the part-ROOT `_SUCCESS`
    * touched LAST as the commit marker: a stale marker is dropped
    * BEFORE the sub-tables rewrite (so a retry of a torn write
    * re-commits atomically) and torn dirs stay invisible to every
    * reader. Shared by the signature and embedding index lifecycles. */
  private[graft] def commitPart(spark: org.apache.spark.sql.SparkSession,
      dir: String)(writes: String => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(marker, false)
    writes(dir)
    fs.create(marker, true).close()
  }

  private def sigIndexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("sig-delta", "sig-snap"))

  /** Committed slot numbers — the replay-skip set for a streaming
    * host. */
  def committedSignatureSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    sigIndexParts(spark, path).map(_._2)

  /** LIVE slots (latest snapshot + later deltas) with their snapshot
    * flag. */
  def liveSignatureSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Boolean)] =
    graft.state.SlotStore.liveParts(sigIndexParts(spark, path),
      "sig-delta", "sig-snap")
      .map(p => (p._2, p._1 == "sig-snap"))

  /** The index as ONE flat multi-path scan of the live parts' `sigs/`
    * sub-tables. Signatures are UNIQUE per (decoded flag) space by
    * host construction (an identical signature is Hamming-0 and the
    * later arrival is dropped before it can enter the state), so the
    * raw union needs no merge — and the index itself doubles as the
    * across-join's star-keeper table. */
  def loadSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(sigIndexParts(spark, path),
      "sig-delta", "sig-snap")
    require(parts.nonEmpty, s"no committed signature parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/sigs"))
  }

  /** Over-cap (decoded, chunk, cval) buckets of the stored index —
    * computed by SUMMING the live parts' bounded count tables (never
    * by aggregating the corpus-scale signatures): the serve-time cap
    * bookkeeping of a streaming host's [[hamming64PairsAcross]]. */
  def loadSignatureOverCap(spark: org.apache.spark.sql.SparkSession,
      path: String, maxBucket: Long): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(sigIndexParts(spark, path),
      "sig-delta", "sig-snap")
    require(parts.nonEmpty, s"no committed signature parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/cnt"))
      .groupBy("decoded", "chunk", "cval").agg(sum(col("n")).as("n"))
      .filter(col("n") > maxBucket)
      .select("decoded", "chunk", "cval")
  }

  /** Delete parts a snapshot superseded — housekeeping (load already
    * ignores them). */
  def sweepSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.state.SlotStore.sweepSuperseded(spark, path, "sig-delta",
      "sig-snap")

  // ----------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram Jaccard pairs via an inverted index: explode distinct
    * n-grams, group into per-gram member lists (one exchange), emit all
    * in-list pairs row-locally, count intersections per pair. At scale,
    * grams shared by >B docs should be dropped first (stopword grams
    * produce quadratic candidate blowup) — `maxDocFreq` does that
    * document-frequency pruning, and the SAME bound caps the member
    * lists during aggregation: the size-capped collect stops
    * accumulating at maxDocFreq+1 entries on every partial and final
    * buffer, so no aggregate key ever holds corpus-scale state (r17 —
    * the unbounded collect_list form only applied the bound after the
    * full list was built). Without a cap the self-join form stands (a
    * per-gram list could be corpus-sized).
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 2, threshold: Double = 0.2,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    // The PRE-prune gram count rides inline with the explode (ng is
    // functionally dependent on id, recovered as max() in the pair
    // aggregate). A separate sizes subplan costs two more joins AND
    // two more evaluations of the tokenize+shingle kernel — the
    // kernel is the dominant cost at corpus scale, and the a/b join
    // sides already share ONE evaluation via exchange reuse.
    val withGrams = docs.select(col(idCol).as("id"),
      shingles(tokensOf(col(textCol)), n).as("grams"))
    val exploded = withGrams.select(col("id"),
      size(col("grams")).cast("bigint").as("ng"),
      explode(col("grams")).as("gram"))
    val matches =
      if (maxDocFreq != Long.MaxValue) {
        // Capped path (optimization round r16): ONE exchange on the
        // gram builds per-gram member lists; the df prune is the
        // list-size filter and candidate pairs explode ROW-LOCALLY
        // from each surviving list. The previous shape (df groupBy +
        // left-semi prune + a×b self-join) re-read the exploded table
        // three ways across ~4 exchanges — with AQE, four extra
        // re-planned query stages per invocation (guide §2.4).
        // Optimization round r17: the collect is the SIZE-CAPPED
        // aggregate — `collect_list` only bounded per-key state AFTER
        // its filter ran, so a stopword gram (the hot key this
        // operator's df cap exists for) built a corpus-scale list
        // inside one aggregation buffer before being dropped.
        // `collect_capped_pair` stops accumulating at maxDocFreq+1
        // elements on every partial and final buffer; the sentinel
        // list falls to the same `size <= maxDocFreq` filter, so the
        // surviving groups (and their complete lists) are identical.
        val members = exploded
          .groupBy("gram")
          .agg(graft.functions.BoundedAgg.collect_capped_pair(
            col("id"), col("ng"), maxDocFreq).as("ms"))
          .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxDocFreq)
        // all unordered (a, b) pairs with a.id < b.id, row-local;
        // shingles are distinct per doc so each doc appears at most
        // once per list and `inter` counts shared grams exactly as
        // the self-join did
        members.select(graft.functions.BoundedAgg.member_pairs(col("ms"))
          .as(Seq("ida", "nga", "idb", "ngb")))
      } else {
        // uncapped: the self-join shape stands — a per-gram list
        // without the df bound could hold the whole corpus in one row
        exploded.as("a")
          .join(exploded.as("b"),
            col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
          .select(col("a.id").as("ida"), col("a.ng").as("nga"),
            col("b.id").as("idb"), col("b.ng").as("ngb"))
      }
    matches
      .groupBy(col("ida").as("doc_id_a"), col("idb").as("doc_id_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("nga")).as("ng_a"), max(col("ngb")).as("ng_b"))
      .withColumn("j", round(col("inter").cast("double") /
        (col("ng_a") + col("ng_b") - col("inter")), 4))
      .filter(col("j") >= threshold)
      .select("doc_id_a", "doc_id_b", "j")
  }

  /** Near-dup provenance overlap matrix: for every unordered pair of
    * sources, how many near-dup document pairs ([[ngramJaccardPairs]]
    * semantics) cross them and the mean similarity of those pairs —
    * the dashboard that tells a corpus owner WHICH feeds are
    * re-crawling each other before any keeper policy runs. Diagonal
    * rows (same source on both sides) report intra-feed duplication.
    *
    * The pair list is the already-pruned Jaccard graph (edges, not
    * corpus); the only corpus-side touch is two id→source projection
    * joins, so nothing wider than `(id, source)` shuffles.
    */
  def nearDupSourceOverlap(docs: DataFrame, n: Int = 2,
      threshold: Double = 0.2, maxDocFreq: Long = Long.MaxValue,
      textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val pairs = ngramJaccardPairs(docs, textCol, idCol, n, threshold,
      maxDocFreq)
    // a NULL source stays a distinct metadata-less feed (a null
    // grouping key is a real group): least/greatest SKIP nulls, which
    // would fold a null↔'sA' pair into the ('sA','sA') DIAGONAL —
    // blaming a real feed for intra-feed duplication that actually
    // crosses into the source-less one. A string sentinel would
    // collide with a feed literally named that, so the unordered pair
    // is normalized with an explicit null-last comparison instead.
    val src = docs.select(col(idCol), col(sourceCol))
    val aFirst = col("src_b").isNull ||
      (col("src_a").isNotNull && col("src_a") <= col("src_b"))
    pairs
      .join(src.toDF("doc_id_a", "src_a"), Seq("doc_id_a"))
      .join(src.toDF("doc_id_b", "src_b"), Seq("doc_id_b"))
      .groupBy(when(aFirst, col("src_a")).otherwise(col("src_b"))
          .as("source_a"),
        when(aFirst, col("src_b")).otherwise(col("src_a")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("j")), 3).as("mean_j"))
  }

  // ------------------- postings-overlap across (winnowing / n-gram)

  /** Winnowing fingerprint postings `(doc_id, fph)` — the PERSISTABLE
    * index of the q44 family ([[TextAnalysis.winnowingFingerprints]]
    * exploded; one row per distinct winnowed hash per doc). Shared by
    * the self-form pair join ([[winnowingOverlapPairs]]) and the
    * delivery-time across ([[postingsOverlapAcross]]) so the two
    * definitions cannot diverge — the [[bandKeys]] discipline. */
  def winnowPostings(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.winnowingFingerprints(col(textCol), k, w))
        .as("fph"))

  /** N-gram postings `(doc_id, gram)` — the persistable index of the
    * q35 family (distinct word n-grams exploded; [[shingles]] is the
    * one gram definition the self and across forms share). */
  def ngramPostings(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 2): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(shingles(tokensOf(col(textCol)), n)).as("gram"))

  /** Per-key document frequencies of a postings table — the SIGN-TIME
    * df bookkeeping of [[postingsOverlapAcross]]. The union-df prune
    * needs the corpus df of every delivery key; materializing this
    * table when the index is signed removes the only corpus-scale
    * aggregate from the per-delivery plan (the q102b/q43b cap-
    * bookkeeping discipline — here the df cut IS the cap). Postings
    * are distinct per doc, so `count = doc frequency`. */
  def postingsDfs(postings: DataFrame, keyCol: String = "fph"): DataFrame =
    postings.groupBy(keyCol).agg(count(lit(1)).as("df"))

  /** Per-doc distinct key counts of a postings table — the sign-time
    * set sizes the across Jaccard joins back ([[ngramJaccardAcross]];
    * `size(grams)` of the self form equals this count because postings
    * are distinct per doc). */
  def postingsSizes(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(count(lit(1)).as("ng"))

  /** Q44 self-form: candidate near-dup pairs sharing ≥ `minShared`
    * winnowed fingerprints, document-frequency pruned. The df ≤
    * `maxDf` cut is part of the declared semantics AND this family's
    * degenerate-bucket cap: a fingerprint shared by more documents is
    * boilerplate — it cannot distinguish a near-dup pair but makes the
    * self-join quadratic in its frequency (one hash in 100k docs →
    * 10^10 join rows). */
  def winnowingOverlapPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, w: Int = 4,
      maxDf: Long = 100L, minShared: Long = 3L): DataFrame = {
    // ONE exchange on the fingerprint hash builds per-hash member
    // lists (df prune = list-size filter, bounded by maxDf) and the
    // candidate pairs explode row-locally — the ngramJaccardPairs r16
    // shape, replacing the df groupBy + semi-join + self-join chain
    // (guide §2.4). Postings are distinct per doc, so the pair count
    // per hash equals the self-join's. r17: size-capped collect — the
    // unbounded collect_list held a boilerplate fingerprint's full
    // corpus-scale posting list in one aggregation buffer before the
    // filter could drop it; collect_capped stops at maxDf+1 on every
    // partial and the sentinel falls to the same size filter.
    val members = winnowPostings(docs, textCol, idCol, k, w)
      .groupBy("fph")
      .agg(graft.functions.BoundedAgg.collect_capped(col("doc_id"), maxDf)
        .as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxDf)
    members.select(graft.functions.BoundedAgg.member_pairs(col("ms"))
        .as(Seq("doc_id_a", "doc_id_b")))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Delivery-time postings overlap — the across form shared by the
    * winnowing (q44b) and n-gram Jaccard (q35b) text families, the
    * same union-df discipline as the video across
    * ([[Multimodal.videoNearDupPairsAcross]]): `(corpus_id, batch_id,
    * shared)` pair rows between a persisted corpus postings index and
    * a delivery postings frame, counting shared keys whose UNION
    * document frequency (stored df — served from the sign-time
    * [[postingsDfs]] table, semi-pruned to the delivery's keys — plus
    * the delivery's own counts) is ≤ `maxDf`. Output equals the batch
    * self-join over corpus ∪ delivery restricted to (corpus, delivery)
    * pairs — DedupSpec pins the parity, including the boundary where a
    * key at corpus df = maxDf is pushed OVER the cut by its delivery
    * occurrences.
    *
    * Scale shape per delivery: the corpus postings and df tables are
    * SCANNED once each, pruned by a broadcast of the delivery's key
    * set — never shuffled, never aggregated, never themselves
    * broadcast; the only exchange is the pair group-by over
    * join-surviving rows, bounded by |delivery keys| × maxDf. The df
    * cut is the degenerate cap: a boilerplate key (the 10⁶-doc header
    * line) exceeds maxDf at the union count and never joins. */
  def postingsOverlapAcross(corpusPostings: DataFrame,
      corpusDfs: DataFrame, deliveryPostings: DataFrame,
      keyCol: String = "fph", maxDf: Long = 100L): DataFrame = {
    val del = graft.CacheRegistry.persist(
      deliveryPostings.select(col("doc_id").as("batch_id"), col(keyCol)))
    // union df = stored df (delivery-bounded rows survive the
    // semi-pruned scan) + the delivery's own counts; rare = delivery
    // keys at or under the threshold. Delivery-sized throughout, and
    // persisted so its two broadcast consumers share one computation.
    val rare = graft.CacheRegistry.persist(
      del.groupBy(keyCol).agg(count(lit(1)).as("ddf"))
        .join(corpusDfs
            .join(broadcast(del.select(keyCol).distinct()),
              Seq(keyCol), "left_semi")
            .withColumnRenamed("df", "df_stored"),
          Seq(keyCol), "left")
        .filter(col("ddf") + coalesce(col("df_stored"), lit(0L)) <= maxDf)
        .select(keyCol))
    corpusPostings.select(col("doc_id").as("corpus_id"), col(keyCol))
      .join(broadcast(rare), Seq(keyCol), "left_semi")
      .join(del.join(broadcast(rare), Seq(keyCol), "left_semi"),
        Seq(keyCol))
      .groupBy("corpus_id", "batch_id")
      .agg(count(lit(1)).as("shared"))
  }

  /** Delivery-time n-gram Jaccard (q35b): [[postingsOverlapAcross]]
    * intersections joined back to the per-doc set sizes — corpus sizes
    * served from the sign-time [[postingsSizes]] table (scanned, the
    * delivery-bounded pair side broadcasts against it), delivery sizes
    * computed from its own postings. Same `j` expression as
    * [[ngramJaccardPairs]]. */
  def ngramJaccardAcross(corpusPostings: DataFrame, corpusDfs: DataFrame,
      corpusSizes: DataFrame, deliveryPostings: DataFrame,
      threshold: Double = 0.2, maxDf: Long = 100L): DataFrame = {
    // the overlap kernel persists its own delivery projection; sizes
    // take one extra delivery-scale pass instead of a second cache of
    // the same rows (the q43 double-cache lesson)
    val delSizes = postingsSizes(deliveryPostings)
      .select(col("doc_id").as("batch_id"), col("ng").as("ng_b"))
    postingsOverlapAcross(corpusPostings, corpusDfs, deliveryPostings,
        "gram", maxDf)
      // sizes join AFTER the delivery-bounded aggregate: the pair side
      // broadcasts, the corpus-scale sizes table is scanned
      .join(corpusSizes.select(col("doc_id").as("corpus_id"),
        col("ng").as("ng_a")), Seq("corpus_id"))
      .join(broadcast(delSizes), Seq("batch_id"))
      .withColumn("j", round(col("shared").cast("double") /
        (col("ng_a") + col("ng_b") - col("shared")), 4))
      .filter(col("j") >= threshold)
      .select("corpus_id", "batch_id", "j")
  }

  // ------------------------------ postings index (slotted state)

  /** Persisted winnowing-postings index — the EIGHTH
    * [[graft.state.SlotStore]] client (the q117b/q121b lifecycle for
    * the q44 fingerprint family): deliveries land as self-committing
    * `post-delta-<slot>` dirs, compactions as `post-snap-<slot>`
    * (supersede every part with slot ≤ k), torn writes ignored. Each
    * part holds TWO sub-tables: `post/` (doc_id, fph — the delivery's
    * surviving postings) and `dfs/` (its [[postingsDfs]]) — the df
    * bookkeeping rides the state like the signature index's chunk
    * counts, but unlike those the df key domain is UNBOUNDED, so the
    * serve-time sum is KEY-PRUNED ([[loadPostingsDfsFor]]) instead of
    * read whole: per-part df rows for a given key are ≤ 1, so the
    * pruned sum is |delivery keys| × |live parts| rows at most, never
    * a corpus aggregate. `postings` should be persisted by the caller
    * (both sub-table writes read it). */
  def savePostingsDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, postings: DataFrame, slot: Option[Long] = None,
      snapshot: Boolean = false): Unit = {
    val parts = postIndexParts(spark, path)
    val next = slot.getOrElse(parts.map(_._2).foldLeft(-1L)(math.max) + 1)
    graft.state.SlotStore.requireNotSuperseded(parts, "post-snap", next,
      "savePostingsDelta")
    val kind = if (snapshot) "snap" else "delta"
    commitPart(spark, s"$path/post-$kind-$next") { dir =>
      postings.write.mode("overwrite").parquet(s"$dir/post")
      postingsDfs(postings).write.mode("overwrite").parquet(s"$dir/dfs")
    }
  }

  private def postIndexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("post-delta", "post-snap"))

  /** Committed slot numbers — the replay-skip set for the streaming
    * host. */
  def committedPostingsSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    postIndexParts(spark, path).map(_._2)

  /** LIVE slots (latest snapshot + later deltas) with their snapshot
    * flag. */
  def livePostingsSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Boolean)] =
    graft.state.SlotStore.liveParts(postIndexParts(spark, path),
      "post-delta", "post-snap")
      .map(p => (p._2, p._1 == "post-snap"))

  /** The postings index as ONE flat multi-path scan of the live parts'
    * `post/` sub-tables. Doc ids are unique across parts by host
    * construction (first-arrival: a redelivered id never re-enters),
    * so the raw union needs no merge. */
  def loadPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(postIndexParts(spark, path),
      "post-delta", "post-snap")
    require(parts.nonEmpty, s"no committed postings parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/post"))
  }

  /** Stored document frequencies for exactly the given key set —
    * the live parts' `dfs/` sub-tables scanned with `keys` broadcast
    * against them, then summed: one row per delivery key, never a
    * corpus-scale aggregate (the df tables ARE the sign-time
    * aggregates; summing their key-pruned union is delivery-bounded
    * because each part holds at most one row per key). */
  def loadPostingsDfsFor(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: DataFrame, keyCol: String = "fph"): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(postIndexParts(spark, path),
      "post-delta", "post-snap")
    require(parts.nonEmpty, s"no committed postings parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/dfs"))
      .join(broadcast(keys.select(keyCol).distinct()), Seq(keyCol),
        "left_semi")
      .groupBy(keyCol).agg(sum(col("df")).as("df"))
  }

  /** Delete parts a snapshot superseded — housekeeping (load already
    * ignores them). */
  def sweepPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.state.SlotStore.sweepSuperseded(spark, path, "post-delta",
      "post-snap")

  // ------------------------------------------------ connected components

  /** Connected components over a near-dup pair list — the step that
    * turns pairwise similarity edges into duplicate CLUSTERS so a corpus
    * can keep exactly one representative per cluster (pairs alone can't:
    * A~B and B~C must collapse to one group even when A~C was never
    * proposed).
    *
    * Algorithm: hash-min label propagation. Each node starts labeled
    * with its own id; every round each node takes the minimum label of
    * itself and its neighbors; convergence in O(component diameter)
    * rounds. Dedup clusters are near-cliques (diameter 2-3 in
    * practice), so the loop is short; the per-round cost is one
    * join + one groupBy over the EDGE list only — O(|E|) rows of two
    * longs, never document content. For adversarial long-chain graphs
    * the alternating large-star/small-star variant halves the round
    * count; not needed for dedup-shaped edge sets.
    *
    * The driver-side loop is plan control, not data movement: each
    * round is a distributed job, checked for convergence with a
    * `limit(1).count` probe. Every round's label set is
    * `localCheckpoint`-ed — iterative plans MUST truncate lineage: the
    * round-N plan otherwise embeds the round-N-1 plan in full, growing
    * exponentially until the optimizer (not the data) is the bottleneck.
    * On a cluster with shaky executors, swap in reliable
    * `checkpoint()` + a checkpoint dir — same loop, durable truncation.
    *
    * Returns `(node, component)` for every node with at least one edge;
    * `component` is the minimum node id of the component.
    *
    * Small-graph fast path (round 16): an edge set at or under
    * `localThreshold` RAW rows (directed, duplicates included — the
    * gate reads the caller's edge list as delivered, so a
    * duplicate-heavy list whose deduplicated size is under the
    * threshold but raw size is over it takes the distributed path; a
    * deliberate trade — counting deduplicated edges first would cost
    * the distinct exchange on exactly the small graphs the fast path
    * exists to spare) runs [[localConnectedComponents]]
    * (the driver union-find [[connectedComponentsDelta]] already uses
    * for contracted graphs) — identical labels (comp = min member id),
    * microseconds instead of 2+ distributed rounds whose fixed cost
    * (checkpoint job + convergence probe + codegen per round)
    * dominates any small graph. This is the common case for df-pruned
    * near-dup graphs at bench scale; a 100 TB batch edge set exceeds
    * the threshold and takes the distributed pointer-jumping loop
    * unchanged.
    *
    * Optimization round r16: the RAW edge list is checkpointed and
    * counted FIRST, and the undirected/deduplicated table is built
    * only on the distributed path — from the checkpoint leaf, not the
    * caller's plan. Before, `edges ∪ swap(edges) distinct` embedded
    * the (often expensive — a df-pruned Jaccard self-join) edge plan
    * TWICE and paid a second full-width materialization; with AQE
    * each of its shuffle stages is a separate job whose re-planning
    * walks that doubled tree. The small path now collects the raw
    * checkpointed edges directly (union-find is direction- and
    * duplicate-insensitive), dropping the distinct exchange and the
    * second checkpoint outright (guide §2.4). Labels are unchanged on
    * both paths.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b", maxIter: Int = 25,
      localThreshold: Long = localCcMaxEdges): DataFrame = {
    // every checkpoint in the loop carries a release handle: round N's
    // blocks are retired as soon as round N+1 is materialized and the
    // convergence probe has read them — before round 8 the loop leaked
    // one label-table's worth of storage per iteration per invocation
    val (edgesCp, releaseEdges) =
      graft.CacheRegistry.localCheckpointWithRelease(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val nEdges = edgesCp.count()
    // empty edge set → empty label table, no loop: a clean corpus (or
    // a clean delivery batch in the incremental funnel) should not pay
    // label-propagation job rounds to learn there is nothing to label
    if (nEdges == 0L) {
      releaseEdges()
      // derived from the caller's frame, not the released checkpoint
      // (a released checkpoint cannot be re-actioned); limit(0) folds
      // to an empty relation
      return edges.select(col(srcCol).as("node"), col(srcCol).as("comp"))
        .limit(0)
    }
    if (nEdges <= localThreshold) {
      // raw directed edges suffice: union-find unions (a, b) exactly
      // like the two (a→b, b→a) rows, and duplicates are no-ops
      val out = localConnectedComponents(
        edgesCp.select(col("src").as("doc_id_a"), col("dst").as("doc_id_b")))
      releaseEdges()
      return out
    }
    val (und, releaseUnd) = graft.CacheRegistry.localCheckpointWithRelease(
      edgesCp.union(edgesCp.select(col("dst"), col("src")))
        .distinct())
    releaseEdges() // und is materialized; the raw edge blocks are done
    var (labels, releaseLabels) =
      graft.CacheRegistry.localCheckpointWithRelease(
        und.select(col("src").as("node")).distinct()
          .withColumn("comp", col("node")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = labels.as("l").join(und.as("e"), col("l.node") === col("e.src"))
        .select(col("e.dst").as("node"), col("l.comp").as("comp"))
      // pointer jumping: also adopt the label OF my current label
      // (comp(comp(node))). Plain hash-min needs O(diameter) rounds —
      // a 1M-link duplicate chain would silently mislabel under any
      // fixed iteration cap; with the jump hop label distances halve
      // per round, so `maxIter` rounds cover diameter 2^maxIter and
      // the cap is a true runaway valve, not a correctness bound.
      val jump = labels.as("l")
        .join(labels.as("m"), col("l.comp") === col("m.node"))
        .select(col("l.node").as("node"), col("m.comp").as("comp"))
      val (next, releaseNext) = graft.CacheRegistry.localCheckpointWithRelease(
        labels.select("node", "comp").union(msgs).union(jump)
          .groupBy("node").agg(min("comp").as("comp")))
      val changed = next
        .join(labels.withColumnRenamed("comp", "prev"), "node")
        .filter(col("comp") =!= col("prev")).limit(1).count()
      releaseLabels() // previous round's blocks: fully consumed above
      labels = next
      releaseLabels = releaseNext
      converged = changed == 0L
      iter += 1
    }
    releaseUnd() // the edge table: only the loop read it
    // the returned frame IS the final checkpoint — its blocks live
    // until the caller's Graft.releaseCaches
    graft.CacheRegistry.registerRelease(edges.sparkSession)(releaseLabels)
    labels
  }

  /** Incremental connected components — the consumer-side maintenance
    * loop for every delivery-time pair list this engine publishes
    * (q102/q43b/q44b/q35b and the streaming hosts all emit PAIRS;
    * cluster keepers come from CC, and re-running batch CC over the
    * full published edge set per delivery is O(corpus edges) of
    * iterative shuffles). Given the CURRENT label table (`node, comp`
    * — [[connectedComponents]] over all earlier edges, comp = min
    * member id) and a delivery's NEW edges, returns the label table of
    * the edge UNION — exactly `connectedComponents(earlier ∪ new)`,
    * DedupSpec-pinned.
    *
    * Algorithm: contraction. New-edge endpoints look up their current
    * label (stored labels SCANNED with the delta-sized endpoint set
    * broadcast against them — never the reverse); each new edge
    * contracts to its endpoint labels (self-loops drop: an edge inside
    * an existing component changes nothing); batch CC runs on the
    * CONTRACTED graph only — delta-scale, since old labels are their
    * components' min ids the contracted minimum IS the union
    * component's true min. The resulting remap (old label → smaller
    * new label, tiny by construction) broadcast-rewrites the stored
    * label table map-side.
    *
    * Scale shape per delivery: the iterative label-propagation loop
    * never touches corpus-scale data; the stored labels pay one
    * broadcast-semi-pruned scan (endpoint lookup) and one map-side
    * broadcast-join rewrite — no corpus shuffle. A consumer keeping
    * the label table as served state can persist just the tiny remap
    * + the delta's new rows and fold them at compaction (remaps
    * compose), making the state write O(delta) too. */
  def connectedComponentsIncremental(labels: DataFrame,
      newEdges: DataFrame, srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b", maxIter: Int = 25): DataFrame = {
    val (remap, newLabels) =
      connectedComponentsDelta(labels, newEdges, srcCol, dstCol, maxIter)
    labels.join(broadcast(remap), Seq("comp"), "left")
      .select(col("node"),
        coalesce(col("newcomp"), col("comp")).as("comp"))
      .unionByName(newLabels)
  }

  /** The DELTA of [[connectedComponentsIncremental]]: `(remap,
    * newLabels)` where `remap (comp, newcomp)` is the tiny old-label →
    * new-label table the fold produces (empty when every new edge is
    * intra-component) and `newLabels (node, comp)` labels the
    * endpoints absent from the stored table. Persisting JUST these two
    * frames is the O(delta) state write of a served label table
    * ([[saveLabelDelta]]); both come back persisted so a caller can
    * write each without recomputing the fold. */
  def connectedComponentsDelta(labels: DataFrame, newEdges0: DataFrame,
      srcCol: String = "doc_id_a", dstCol: String = "doc_id_b",
      maxIter: Int = 25): (DataFrame, DataFrame) = {
    // the delta edge list is usually an EXPENSIVE upstream (a full
    // across near-dup join) and feeds two consumers here (endpoint
    // set, contraction) — persist once, delta-bounded by construction.
    // The count MATERIALIZES the cache in its own single-branch job
    // before the fan-out below: two un-materialized branches of one
    // action would otherwise race to compute the same InMemoryRelation
    // and the expensive join would run twice (measured: the q53b
    // delivery paid its edge pass ~2x without this)
    val newEdges = graft.CacheRegistry.persist(newEdges0)
    val nEdges = newEdges.count()
    // empty-delta short-circuit: no edges → nothing merges, nothing is
    // labeled — the whole fold (endpoint lookup, contraction, CC,
    // remap) drops to two empty frames, the no-op heartbeat shape a
    // streaming host sees most batches
    if (nEdges == 0L) {
      val emptyRemap = graft.CacheRegistry.persist(
        labels.limit(0).select(col("comp"), col("comp").as("newcomp")))
      val emptyNew = graft.CacheRegistry.persist(
        labels.limit(0).select(col("node"), col("comp")))
      return (emptyRemap, emptyNew)
    }
    val ends = graft.CacheRegistry.persist(
      newEdges.select(col(srcCol).as("node"))
        .union(newEdges.select(col(dstCol).as("node"))).distinct())
    // stored labels of the touched endpoints: corpus-scale table
    // scanned, delta-sized endpoint set broadcast (a left join the
    // other way round would have to build the corpus side)
    val storedEnd = labels.join(broadcast(ends), Seq("node"), "left_semi")
    val endLabels = graft.CacheRegistry.persist(
      ends.join(storedEnd.withColumnRenamed("comp", "lcomp"),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("lcomp"), col("node")).as("comp"),
          col("lcomp").isNotNull.as("stored")))
    val contracted = newEdges
      .join(endLabels.select(col("node").as(srcCol),
        col("comp").as("ca")), Seq(srcCol))
      .join(endLabels.select(col("node").as(dstCol),
        col("comp").as("cb")), Seq(dstCol))
      .filter(col("ca") =!= col("cb"))
      .select(col("ca").as("doc_id_a"), col("cb").as("doc_id_b"))
    // delta-scale CC: nodes are old component labels + new doc ids.
    // The contracted graph is DELTA-bounded (≤ one edge per delivered
    // pair), so below a driver-safe threshold it is solved as one
    // in-memory union-find instead of the iterative distributed loop —
    // the loop's per-round job+checkpoint floor (~6 small jobs per
    // delivery) was most of q53b's fixed cost at toy scale, and a
    // collect of ≤ `localCcMaxEdges` (id, id) pairs is a few MB. Over
    // the threshold (a genuinely huge delivery) the distributed loop
    // stands. Outputs are identical: min-member-id labels either way.
    val contractedP = graft.CacheRegistry.persist(contracted)
    val nContracted = contractedP.count()
    val merged = graft.CacheRegistry.persist(
      if (nContracted <= localCcMaxEdges)
        localConnectedComponents(contractedP)
      else connectedComponents(contractedP, maxIter = maxIter))
    // remap rows only for STORED labels: a new node's own entry in
    // `merged` is its label assignment, not a component merge — no
    // stored row can carry a new node id as its comp, so keeping such
    // rows out of the remap costs nothing and keeps the remap's
    // contract exact (one row per merged stored component)
    val remap = graft.CacheRegistry.persist(
      merged.filter(col("node") =!= col("comp"))
        .join(endLabels.filter(col("stored"))
          .select(col("comp").as("node")).distinct(), Seq("node"),
          "left_semi")
        .select(col("node").as("comp"), col("comp").as("newcomp")))
    // endpoints absent from the stored table are NEW nodes; every one
    // of them has a non-self-loop contracted edge (its own label is
    // itself), so `merged` covers it — the coalesce is the degenerate
    // (x, x) self-edge guard
    val newLabels = graft.CacheRegistry.persist(
      endLabels.filter(!col("stored"))
        .join(merged.withColumnRenamed("comp", "mcomp"), Seq("node"),
          "left")
        .select(col("node"), coalesce(col("mcomp"), col("node")).as("comp")))
    (remap, newLabels)
  }

  /** Edge-count ceiling for the driver-local union-find fast path of
    * [[connectedComponentsDelta]] — 4M (id, id) edges ≈ 64 MB
    * collected, far under driver headroom, far over any sane
    * delivery. */
  private[graft] val localCcMaxEdges = 4000000L

  /** Driver-local connected components: collect a (small) edge list,
    * union-find with min-id labels, return the same `(node, comp)`
    * frame [[connectedComponents]] produces. ONLY for delta-scale
    * graphs behind [[localCcMaxEdges]] — the caller guards. */
  private[graft] def localConnectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("doc_id_a").cast("long"),
      col("doc_id_b").cast("long")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { x = p; p = parent.getOrDefault(x, x) }
      // path compression
      var y = x0
      while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
      x
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      // union by MIN id so the root IS the component label
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
      if (!parent.containsKey(a)) parent.put(a, find(a))
      if (!parent.containsKey(b)) parent.put(b, find(b))
    }
    val nodes = new java.util.TreeSet[java.lang.Long]()
    pairs.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    val it = nodes.iterator()
    while (it.hasNext) { val n = it.next().longValue; out += ((n, find(n))) }
    out.toSeq.toDF("node", "comp")
  }

  // ------------------------------ label index (slotted state)

  /** Persisted cluster-label index — the NINTH
    * [[graft.state.SlotStore]] client, and the O(delta) state shape of
    * [[connectedComponentsDelta]]: each part holds `remap/` (old comp
    * → new comp — TINY: one row per component merge this delivery) and
    * `new/` (node, comp rows for first-seen nodes; a SNAPSHOT stores
    * the full served table here with an empty remap). The base label
    * table is NEVER rewritten per delivery — [[loadLabelIndex]]
    * applies the live remaps to the row union in slot order as chained
    * broadcast joins, which is exact online composition: a remap from
    * slot i can never match a value written after slot i (served
    * labels stop showing a remapped-away label the moment its remap
    * commits, and component labels are node ids, unique), and later
    * remaps chain earlier outputs. `remap`/`newLabels` should be
    * persisted by the caller ([[connectedComponentsDelta]] returns
    * them persisted). */
  def saveLabelDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, remap: DataFrame, newLabels: DataFrame,
      slot: Option[Long] = None, snapshot: Boolean = false): Unit = {
    val parts = labelIndexParts(spark, path)
    val next = slot.getOrElse(parts.map(_._2).foldLeft(-1L)(math.max) + 1)
    graft.state.SlotStore.requireNotSuperseded(parts, "lab-snap", next,
      "saveLabelDelta")
    val kind = if (snapshot) "snap" else "delta"
    commitPart(spark, s"$path/lab-$kind-$next") { dir =>
      remap.write.mode("overwrite").parquet(s"$dir/remap")
      newLabels.write.mode("overwrite").parquet(s"$dir/new")
    }
  }

  private def labelIndexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("lab-delta", "lab-snap"))

  /** Committed slot numbers — the replay-skip set for the streaming
    * host. */
  def committedLabelSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    labelIndexParts(spark, path).map(_._2)

  /** LIVE slots (latest snapshot + later deltas), slot-ordered. */
  def liveLabelSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Boolean)] =
    graft.state.SlotStore.liveParts(labelIndexParts(spark, path),
      "lab-delta", "lab-snap")
      .map(p => (p._2, p._1 == "lab-snap"))

  /** The served label table: the live parts' `new/` rows under the
    * live remaps applied in slot order (chained tiny broadcast joins
    * over ONE multi-path row scan — the base is never rewritten until
    * compaction). */
  def loadLabelIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(labelIndexParts(spark, path),
      "lab-delta", "lab-snap")
    require(parts.nonEmpty, s"no committed label parts under $path")
    val rows = graft.state.SlotStore.readParts(spark,
      parts.map(p => s"${p._3}/new"))
    parts.foldLeft(rows) { (acc, p) =>
      acc.join(broadcast(spark.read.parquet(s"${p._3}/remap")),
          Seq("comp"), "left")
        .select(col("node"),
          coalesce(col("newcomp"), col("comp")).as("comp"))
    }
  }

  /** Delete parts a snapshot superseded — housekeeping (load already
    * ignores them). */
  def sweepLabelIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.state.SlotStore.sweepSuperseded(spark, path, "lab-delta",
      "lab-snap")

  /** Cross-corpus n-gram contamination report — the gram-granular
    * benchmark-leakage guard between [[decontaminate]] (exact text)
    * and [[graft.operators.TextAnalysis.spanContamination]]
    * (within-corpus): for every corpus document, the number of
    * distinct `n`-token shingles it shares with the benchmark. Real
    * decontamination pipelines cut on this (a paraphrased benchmark
    * item keeps most of its 8-grams while changing its exact text).
    *
    * Scale shape: the benchmark reduces to a distinct set of 8-byte
    * gram hashes that broadcasts (eval sets are tiny); the corpus
    * explodes its per-document DISTINCT gram hashes map-side into a
    * broadcast semi-join — no shuffle of grams; only the surviving
    * (doc_id, count) pairs reach the one exchange. Collision
    * semantics identical to [[graft.operators.TextAnalysis
    * .spanContamination]].
    */
  def crossContamination(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import graft.operators.TextAnalysis.tokens
    // shingles (Sketch.ngrams) already emits DISTINCT grams per row;
    // a zero-token document's whole-text fallback gram is the empty
    // string — excluded on both engines (the oracle filters gram <> '')
    def gramHashes(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      df.select(cols :+
        explode(shingles(tokens(col(textCol)), n)).as("gram"): _*)
        .filter(col("gram") =!= "")
        .withColumn("gh", xxhash64(col("gram"))).drop("gram")
    val benchGrams = gramHashes(benchmark, Nil).select("gh").distinct()
    gramHashes(corpus, Seq(col(idCol).as("doc_id")))
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[crossContamination]] from the EVAL side: per BENCHMARK item, how
    * compromised is it — the report an eval owner reads to decide which
    * items to retire (the corpus-side report decides which documents to
    * cut; both reports come from the same gram match). For every
    * benchmark document: its distinct `n`-gram count, how many of those
    * grams appear anywhere in the corpus, that fraction, and the number
    * of distinct corpus documents sharing at least one gram. Clean
    * items report zeros (the report is benchmark-sized, one row each).
    *
    * Scale shape: the benchmark's `(gh, doc_id)` gram table is tiny and
    * broadcasts into the corpus's row-local distinct-gram explode — the
    * corpus never shuffles; only the matched `(bench id, gh, corpus id)`
    * rows (dup-bounded) reach the two aggregations.
    */
  def benchmarkContamination(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import graft.operators.TextAnalysis.tokens
    def gramHashes(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      df.select(cols :+
        explode(shingles(tokens(col(textCol)), n)).as("gram"): _*)
        .filter(col("gram") =!= "")
        .withColumn("gh", xxhash64(col("gram"))).drop("gram")
    val benchGrams = graft.CacheRegistry.persist(
      gramHashes(benchmark, Seq(col(idCol).as("bid"))))
    val matched = gramHashes(corpus, Seq(col(idCol).as("cid")))
      .join(broadcast(benchGrams), Seq("gh"))
    val hits = matched.groupBy("bid")
      .agg(countDistinct(col("gh")).as("n_dirty_grams"),
        countDistinct(col("cid")).as("n_corpus_docs"))
    benchGrams.groupBy("bid").agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("bid"), "left")
      .select(col("bid").as(idCol), col("n_grams"),
        coalesce(col("n_dirty_grams"), lit(0L)).as("n_dirty_grams"),
        round(coalesce(col("n_dirty_grams"), lit(0L)) /
          col("n_grams").cast("double"), 4).as("dirty_frac"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
  }

  /** Apply fuzzy dedup end-to-end: near-dup edges (df-pruned n-gram
    * Jaccard) → connected components (hash-min) → keep each cluster's
    * min-id representative. This is the pass a training pipeline
    * actually runs — q35 finds the pairs, q53 names the clusters, this
    * drops the redundant members. Only ids flow through the component
    * loop; the corpus joins once, by id, at the end (same left-anti
    * discipline as [[deduplicate]]).
    */
  def nearDeduplicate(docs: DataFrame, n: Int = 2, threshold: Double = 0.2,
      maxDocFreq: Long = 100L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val edges = ngramJaccardPairs(docs, textCol = textCol, idCol = idCol,
      n = n, threshold = threshold, maxDocFreq = maxDocFreq)
    val losers = connectedComponents(edges)
      .filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[nearDeduplicate]] with a QUALITY-AWARE keeper: per near-dup
    * cluster, keep the member with the highest `scoreCol` (ties → the
    * smallest id) instead of the smallest id unconditionally — the rule
    * production pipelines actually want once a quality signal exists
    * (min-id throws away the best-written copy whenever it happens to
    * carry a larger id). Same machinery: q35's df-pruned Jaccard edges,
    * q53's hash-min components; the keeper election adds ONE narrow
    * (id, score) join against the cluster-member table — ids and
    * scores flow through the loop, the corpus text still joins exactly
    * once, by id, at the final left-anti.
    */
  def nearDeduplicateBy(docs: DataFrame, scoreCol: String,
      n: Int = 2, threshold: Double = 0.2, maxDocFreq: Long = 100L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val edges = ngramJaccardPairs(docs, textCol = textCol, idCol = idCol,
      n = n, threshold = threshold, maxDocFreq = maxDocFreq)
    // cluster members only (nodes that appear in some edge) — a small
    // minority of the corpus; everything outside is implicitly a keeper
    val members = connectedComponents(edges)
      .join(docs.select(col(idCol).as("node"),
        col(scoreCol).cast("double").as("__score")), Seq("node"))
    // deterministic argmax: min_by over (-score, id) — highest score,
    // then smallest id; the struct includes the id so ties cannot occur
    val keepers = members.groupBy(col("comp"))
      .agg(min_by(col("node"),
        struct(negate(col("__score")), col("node"))).as("keeper"))
    val losers = members.join(keepers, Seq("comp"))
      .filter(col("node") =!= col("keeper"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup pairs: sign-LSH bucket join (Similarity.signLsh)
    * then exact cosine only within buckets.
    *
    * `nBands > 1` is the recall knob (the minhash-LSH banding pattern):
    * each band hashes with its own seed-derived hyperplanes, a pair is
    * a candidate when ANY band agrees, candidate id-pairs are deduped
    * BEFORE the exact-cosine stage (so each surviving pair pays one dot
    * product however many bands propose it). Per-bit agreement
    * probability is `1 - θ/π`, so recall = `1 - (1 - p^nbits)^nBands` —
    * bands buy recall linearly in work where extra bits would cost it
    * exponentially.
    *
    * `maxBucket` applies the [[minHashLshPairs]]/[[hamming64PairsCapped]]
    * degenerate-bucket discipline to the EMBEDDING side: `nbits` derived
    * from corpus size bounds MEAN bucket occupancy, but a constant
    * vector emitted by a broken/saturated embedder for 10⁶ documents —
    * the realistic crawl failure — lands in ONE bucket regardless of
    * width and is otherwise a ~5·10¹¹-pair self-join. The cap prunes
    * over-cap buckets from candidate generation; IDENTICAL-vector
    * volume is recovered losslessly as keeper stars (group key =
    * `xxhash64(v)`, 8 bytes through the exchange — identical vectors
    * score cos 1.0 by construction). Star candidates flow through the
    * SAME cosine verify as bucketed ones, so a 64-bit group-key
    * collision is filtered by its true cosine rather than trusted.
    * Under the cap output is identical to the uncapped join (stars are
    * subsumed by the distinct). Genuinely-near-but-not-identical pairs
    * whose every shared bucket is over-cap are lost — the standard LSH
    * bucket-cap trade, same as the lexical family.
    *
    * Two-level adaptive short-circuit (the [[minHashLshPairs]]
    * discipline): a metadata-cheap corpus count retires the machinery
    * entirely when no bucket CAN be over cap, and above the count one
    * small bucket-count probe sends a clean corpus down the plain plan
    * — the cap costs the probe, not the persist/prune/star.
    */
  def embeddingCosinePairs(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95,
      nbits: Int = 8, seed: Long = 42L, nBands: Int = 1,
      dim: Int = -1, maxBucket: Long = Long.MaxValue,
      knownCount: Long = -1L): DataFrame = {
    // an LSH bucket can never exceed the corpus row count — one
    // metadata-cheap count retires the cap machinery at sub-cap sizes.
    // `knownCount >= 0` is the caller's already-computed row count
    // (q43 counts the corpus to derive nbits), so the guard never pays
    // a second count job on either path when the caller supplies it
    val requested = maxBucket != Long.MaxValue &&
      (if (knownCount >= 0) knownCount else emb.count()) > maxBucket
    // hyperplane dimensionality must match the embeddings: a fixed
    // width would silently hash on a truncated/zero-padded prefix for
    // any other embedding model. Derived from one row (bounded 1-row
    // job) unless the caller passes it.
    val planeDim =
      if (dim > 0) dim
      else emb.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
        .take(1).headOption.map(_.getInt(0)).getOrElse(1)
    // norms are computed once per vector and carried through the join as
    // plain columns (the join output materializes them), so the
    // O(pairs) stage pays one dot product instead of three array passes.
    // cap requested, multi-band: the vector table feeds the band
    // union, the star member join and the verify join-backs — persist
    // so norms compute once. (The single-band branch persists its
    // bucketed projection INSTEAD — caching both would hold every
    // vector twice in executor storage.)
    val base0 = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.l2Norm(col(vecCol)).as("norm"))
    val base = if (requested && nBands > 1)
      graft.CacheRegistry.persist(base0) else base0
    // try_divide, not `/`: ANSI mode (Spark 4's default) turns a
    // division by zero into a job-aborting error, and a ZERO vector —
    // an all-zero embedding from the same broken encoder the cap
    // guards against — has norm 0. try_divide scores it null, the
    // threshold filter drops the null, and the pair is excluded
    // (cosine is undefined for the zero vector) instead of killing
    // the query. Identical on capped and uncapped paths.
    def scored(pairs: DataFrame): DataFrame = pairs
      .withColumn("cos", round(try_divide(
        Similarity.dot(col("a.v"), col("b.v")),
        col("a.norm") * col("b.norm")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
    // keeper-star recovery of identical-vector groups the cap may have
    // dropped: n−1 linear rows per group, never C(n, 2). Re-verified by
    // true cosine downstream (collision-safe; zero vectors score null
    // under try_divide and fall out exactly as they would uncapped).
    def starCand(tbl: DataFrame): DataFrame =
      keeperStars(tbl, col("id"), xxhash64(col("v")))
        .select(col("star_a").as("cid_a"), col("star_b").as("cid_b"))
    def scoredCand(cand: DataFrame, tbl: DataFrame): DataFrame = scored(cand
      .join(tbl.as("a"), col("cid_a") === col("a.id"))
      .join(tbl.as("b"), col("cid_b") === col("b.id")))
    if (nBands <= 1) {
      val bucketed0 = base.withColumn("bucket",
        Similarity.signLshBucket(col("v"), nbits, planeDim, seed))
      if (!requested)
        return scored(bucketed0.as("a").join(bucketed0.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id")))
      // persisted: the sign-LSH projection (nbits hyperplane dot
      // products per row) otherwise re-runs for the bucket count, the
      // semi-join probe side and both self-join sides
      val bucketed = graft.CacheRegistry.persist(bucketed0)
      val counts = graft.CacheRegistry.persist(
        bucketed.groupBy("bucket").agg(count(lit(1)).as("bn")))
      // second-level probe: a clean over-count corpus takes the plain
      // self-join (no prune, no star, no candidate distinct) — the cap
      // cost is this one small aggregate over (id, bucket) rows
      val overCap = !counts.filter(col("bn") > maxBucket).isEmpty
      if (!overCap)
        scored(bucketed.as("a").join(bucketed.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id")))
      else {
        val pruned = bucketed
          .join(counts.filter(col("bn") <= maxBucket).select("bucket"),
            Seq("bucket"), "left_semi")
        val cand = pruned.select(col("bucket"), col("id")).as("x")
          .join(pruned.select(col("bucket"), col("id")).as("y"),
            col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
          .select(col("x.id").as("cid_a"), col("y.id").as("cid_b"))
        scoredCand(cand.unionByName(starCand(bucketed)).distinct(), bucketed)
      }
    } else {
      var banded = (0 until nBands).map { band =>
        base.select(col("id"), concat_ws(":", lit(band),
          Similarity.signLshBucket(col("v"), nbits, planeDim, seed + band)).as("bucket"))
      }.reduce(_ union _)
      var overCap = false
      if (requested) {
        // persisted: the sign-LSH projection (nbits hyperplane dot
        // products per row per band) otherwise re-runs for the bucket
        // count, the semi-join probe side and both self-join sides
        banded = graft.CacheRegistry.persist(banded)
        val counts = graft.CacheRegistry.persist(
          banded.groupBy("bucket").agg(count(lit(1)).as("bn")))
        overCap = !counts.filter(col("bn") > maxBucket).isEmpty
        if (overCap)
          banded = banded.join(
            counts.filter(col("bn") <= maxBucket).select("bucket"),
            Seq("bucket"), "left_semi")
      }
      var cand = banded.as("x").join(banded.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
        .select(col("x.id").as("cid_a"), col("y.id").as("cid_b"))
      if (overCap) cand = cand.unionByName(starCand(base))
      scoredCand(cand.distinct(), base)
    }
  }

  /** Sign-LSH embedding index — the PERSISTABLE form of embedding
    * near-dedup state (the q102b/q117b production shape for VECTORS):
    * one row per vector carrying its norm and its per-band sign-LSH
    * bucket ids, so a delivery can band-join a 100 TB embedding corpus
    * without ever re-projecting it. Columns `(id, v, norm, buckets)`;
    * `buckets(b)` is the [[Similarity.signLshBucket]] id under seed
    * `seed + b` — exactly the self-form's banding, so the across-form
    * and [[embeddingCosinePairs]] cannot diverge on bucket membership.
    * Hyperplane dimensionality derives from one data row unless
    * passed; the SERVE path must use the same (nbits, seed, nBands,
    * dim) family the index was built with.
    */
  def embeddingIndex(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", nbits: Int = 8, seed: Long = 42L,
      nBands: Int = 1, dim: Int = -1): DataFrame = {
    val planeDim = if (dim > 0) dim else probeDim(emb, vecCol)
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.l2Norm(col(vecCol)).as("norm"),
      array((0 until nBands).map(b =>
        Similarity.signLshBucket(col(vecCol), nbits, planeDim, seed + b)): _*)
        .as("buckets"))
  }

  /** Hyperplane dimensionality from ONE data row (bounded 1-row job) —
    * shared by [[embeddingIndex]] / [[embeddingCosinePairsAcross]] so
    * build and serve derive the same planes from the same family. */
  private def probeDim(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .take(1).headOption.map(_.getInt(0)).getOrElse(1)

  /** Over-cap (band, bucket) list of an [[embeddingIndex]] — the cap
    * bookkeeping of [[embeddingCosinePairsAcross]], materialized ONCE
    * at index build time. Tiny by construction (every row represents
    * more than `maxBucket` corpus vectors), so a delivery broadcasts
    * it instead of re-aggregating corpus bucket counts per call. */
  def embeddingOverCapBuckets(index: DataFrame,
      maxBucket: Long = 100000L): DataFrame =
    index.select(posexplode(col("buckets")).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket).select("band", "bucket")

  /** Star-keeper table of an [[embeddingIndex]] — `(sh = xxhash64(v),
    * corpus_id = min id)` per identical-VECTOR group: the lossless
    * linear recovery channel for over-cap buckets, immutable between
    * deliveries like the index itself. Scanned at serve time with the
    * delivery hash set broadcast against it; never aggregated, never
    * broadcast. */
  def embeddingStarKeepers(index: DataFrame): DataFrame =
    index.select(col("id"), xxhash64(col("v")).as("sh"))
      .groupBy("sh").agg(min(col("id")).as("corpus_id"))

  /** Delivery-time embedding near-dedup — [[embeddingCosinePairs]]'
    * ACROSS form (what [[minHashLshPairsAcross]] is to the lexical
    * family): near-dup candidate pairs BETWEEN a delivery and the
    * existing corpus, over the corpus's persisted [[embeddingIndex]].
    * The delivery buckets ROW-LOCALLY with the same hyperplanes; only
    * band keys and delivery-sized frames shuffle — the corpus is
    * scanned (band join + verify join + keeper scan), never
    * re-projected, re-paired against itself, or broadcast. Returns
    * `(corpus_id, batch_id, cos)`.
    *
    * `maxBucket` caps the CORPUS side of each (band, bucket) — the
    * unbounded side at 100 TB. A delivery vector IDENTICAL to an
    * over-cap stored one (the constant-vector crawl failure) is
    * recovered via the star keepers: it pairs the group's corpus
    * keeper — one row per delivery doc, never |group|² rows. Star
    * candidates flow through the SAME cosine verify as bucketed ones,
    * so a 64-bit hash collision is filtered by its true cosine, and a
    * zero-norm vector scores null under `try_divide` instead of
    * aborting under ANSI. `overCapBuckets` / `starKeepers` serve the
    * cap's bookkeeping from the index build ([[embeddingOverCapBuckets]]
    * / [[embeddingStarKeepers]]); omitted, both are computed in-query.
    * A second-level probe sends a clean corpus (no over-cap bucket)
    * down the plain plan either way. */
  def embeddingCosinePairsAcross(corpusIndex: DataFrame, delivery: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.95, nbits: Int = 8, seed: Long = 42L,
      nBands: Int = 1, dim: Int = -1,
      maxBucket: Long = Long.MaxValue,
      overCapBuckets: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None): DataFrame =
    embeddingCosinePairsAcrossKeyed(corpusIndex, delivery, vecCol, idCol,
      threshold, nbits, seed, nBands, dim, maxBucket, overCapBuckets,
      starKeepers, xxhash64(_))

  /** [[embeddingCosinePairsAcross]] with an injectable star group key —
    * test seam only (the [[minHashLshPairsAcrossKeyed]] discipline):
    * DedupSpec forces every vector into ONE star group to pin that
    * star candidates pass the TRUE cosine verify. */
  private[graft] def embeddingCosinePairsAcrossKeyed(corpusIndex: DataFrame,
      delivery: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nbits: Int, seed: Long, nBands: Int, dim: Int,
      maxBucket: Long, overCapBuckets: Option[DataFrame],
      starKeepers: Option[DataFrame],
      starKey: Column => Column): DataFrame = {
    val planeDim = if (dim > 0) dim else probeDim(corpusIndex, "v")
    // the delivery projection (norms + nBands sign-LSH buckets per row)
    // feeds the band join, the verify join-back and the star probe —
    // persist so it computes once; it is delivery-sized by construction
    val del = graft.CacheRegistry.persist(
      delivery.select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.l2Norm(col(vecCol)).as("norm"),
        array((0 until nBands).map(b =>
          Similarity.signLshBucket(col(vecCol), nbits, planeDim, seed + b)): _*)
          .as("buckets")))
    embeddingAcrossFromIndexes(corpusIndex, del, threshold, maxBucket,
      overCapBuckets, starKeepers, starKey)
  }

  /** The across pair join over TWO pre-built [[embeddingIndex]]-shaped
    * frames — what [[embeddingCosinePairsAcrossKeyed]] runs after
    * projecting the delivery, exposed so a streaming host that already
    * built its batch index (it needs it for the state delta anyway)
    * does not project the delivery twice. `deliveryIndex` should be
    * persisted by the caller. */
  private[graft] def embeddingAcrossFromIndexes(corpusIndex: DataFrame,
      del: DataFrame, threshold: Double, maxBucket: Long,
      overCapBuckets: Option[DataFrame],
      starKeepers: Option[DataFrame],
      starKey: Column => Column): DataFrame = {
    val delBands = del.select(col("id").as("batch_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    var corpusBands = corpusIndex.select(col("id").as("corpus_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val requested = maxBucket != Long.MaxValue
    // over-cap bucket list: tiny — served from the index when supplied
    // (computed once at build time), one persisted aggregate otherwise
    val over = if (!requested) None else Some(overCapBuckets.getOrElse(
      graft.CacheRegistry.persist(
        corpusBands.groupBy("band", "bucket").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBucket).select("band", "bucket"))))
    // second-level probe: a clean corpus takes the plain band join —
    // no prune, no star, no extra distinct; with served state the
    // probe is a limit-1 read of a tiny file
    val capped = over.exists(o => !o.isEmpty)
    if (capped)
      corpusBands = corpusBands.join(broadcast(over.get),
        Seq("band", "bucket"), "left_anti")
    var cand = corpusBands.join(delBands, Seq("band", "bucket"))
      .select("corpus_id", "batch_id").distinct()
    if (capped) {
      val keepers = starKeepers.getOrElse(
        corpusIndex.select(col("id"), starKey(col("v")).as("sh"))
          .groupBy("sh").agg(min(col("id")).as("corpus_id")))
      val star = keepers
        .join(broadcast(del.select(col("id").as("batch_id"),
          starKey(col("v")).as("sh"))), Seq("sh"))
        .select("corpus_id", "batch_id")
      cand = cand.unionByName(star).distinct()
    }
    // verify: TRUE cosine between the stored and delivery vectors —
    // star/bucket candidates alike; try_divide drops zero-norm rows
    // instead of aborting under ANSI
    cand
      .join(corpusIndex.select(col("id").as("corpus_id"),
        col("v").as("va"), col("norm").as("na")), "corpus_id")
      .join(del.select(col("id").as("batch_id"),
        col("v").as("vb"), col("norm").as("nb")), "batch_id")
      .withColumn("cos", round(try_divide(
        Similarity.dot(col("va"), col("vb")), col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select("corpus_id", "batch_id", "cos")
  }

  // --------------------------------- embedding index (slotted state)

  /** Per-band bucket counts of an [[embeddingIndex]] — the cap
    * bookkeeping the slotted embedding index stores NEXT TO each delta
    * (`(band, bucket, n)`; additive across parts, delta-sized per
    * part). */
  def embeddingBucketCounts(index: DataFrame): DataFrame =
    index.select(posexplode(col("buckets")).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))

  /** Persisted [[embeddingIndex]] as the SEVENTH
    * [[graft.state.SlotStore]] client — the vector-family state behind
    * [[graft.streaming.StreamOps.streamingEmbeddingDedup]]: deliveries
    * land as self-committing `emb-delta-<slot>` dirs (sub-tables
    * `index/` and `cnt/`; the part-root `_SUCCESS` is touched LAST as
    * the commit marker), compactions as `emb-snap-<slot>`. The
    * hyperplane family (nbits, seed, nBands, dim) is the index's
    * IDENTITY: [[requireEmbeddingMeta]] freezes it in an `idx-meta`
    * file at first write and every later writer/reader asserts it, so
    * a host restarted with different parameters fails loudly instead
    * of silently bucketing against foreign planes. */
  def saveEmbeddingDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, index: DataFrame, slot: Option[Long] = None,
      snapshot: Boolean = false): Unit = {
    val parts = embIndexParts(spark, path)
    val next = slot.getOrElse(parts.map(_._2).foldLeft(-1L)(math.max) + 1)
    graft.state.SlotStore.requireNotSuperseded(parts, "emb-snap", next,
      "saveEmbeddingDelta")
    val kind = if (snapshot) "snap" else "delta"
    commitPart(spark, s"$path/emb-$kind-$next") { dir =>
      index.write.mode("overwrite").parquet(s"$dir/index")
      embeddingBucketCounts(index).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/cnt")
    }
  }

  private def embIndexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("emb-delta", "emb-snap"))

  /** Freeze an index's signing parameters into its state dir at first
    * write and assert them on every later batch — a host restarted
    * with different parameters against the same state dir must fail
    * loudly instead of silently probing with a foreign signature
    * family (the embedding host's hyperplane rule, generalized for
    * the MinHash host's shingle/hash/band family). The first write
    * lands at a temp path and renames into place (the same
    * torn-write-invisibility discipline as the part commit markers —
    * a crash mid-write must not leave a short file that fails the
    * equality assert on every restart); a losing racer's rename is a
    * no-op and its next batch re-asserts against the winner's file. */
  def requireIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: String, what: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/idx-meta")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$path/.idx-meta.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      out.write(meta.getBytes("UTF-8")); out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    }
    val in = fs.open(p)
    val stored = new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    in.close()
    require(stored == meta,
      s"$what at $path was built with '$stored' but the host was " +
        s"started with '$meta' — same state dir, different signing " +
        "parameters")
  }

  /** Freeze-or-assert the hyperplane family of a slotted embedding
    * index: first call writes `idx-meta`; later calls require the
    * identical string. [[requireIndexMeta]] with the embedding host's
    * wording. */
  def requireEmbeddingMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: String): Unit =
    requireIndexMeta(spark, path, meta, "embedding index")

  /** Committed slots (replay-skip set). */
  def committedEmbeddingSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    embIndexParts(spark, path).map(_._2)

  /** LIVE slots with snapshot flags. */
  def liveEmbeddingSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Boolean)] =
    graft.state.SlotStore.liveParts(embIndexParts(spark, path),
      "emb-delta", "emb-snap")
      .map(p => (p._2, p._1 == "emb-snap"))

  /** The stored index as ONE flat multi-path scan. Vectors are unique
    * (an identical vector scores cosine 1.0 and the later arrival is
    * dropped before entering the state), so the raw union needs no
    * merge and `(xxhash64(v), id)` projected off it IS the star-keeper
    * table. */
  def loadEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(embIndexParts(spark, path),
      "emb-delta", "emb-snap")
    require(parts.nonEmpty, s"no committed embedding parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/index"))
  }

  /** Over-cap (band, bucket) list by SUMMING the live parts' count
    * tables — never an aggregate of the corpus-scale index. */
  def loadEmbeddingOverCap(spark: org.apache.spark.sql.SparkSession,
      path: String, maxBucket: Long): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(embIndexParts(spark, path),
      "emb-delta", "emb-snap")
    require(parts.nonEmpty, s"no committed embedding parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/cnt"))
      .groupBy("band", "bucket").agg(sum(col("n")).as("n"))
      .filter(col("n") > maxBucket)
      .select("band", "bucket")
  }

  /** Housekeeping sweep of superseded parts. */
  def sweepEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.state.SlotStore.sweepSuperseded(spark, path, "emb-delta",
      "emb-snap")

  /** Corpus diff — the dataset-versioning primitive behind incremental
    * pipeline runs (re-dedup only what changed, re-score only modified
    * documents): compare two corpus snapshots by content digest and
    * classify every doc id as `added` (only in `b`), `removed` (only
    * in `a`), `modified` (both, digests differ) or `unchanged`.
    *
    * Scale shape: both sides project to (id, md5) — 16-byte digests,
    * never text — and meet in ONE co-partitioned full outer join on
    * the id; the classification is row-local. At 100 TB this is the
    * cheapest possible two-snapshot comparison (a digest column can
    * also be precomputed and stored with the corpus, making the diff
    * pure metadata).
    */
  def corpusDiff(a: DataFrame, b: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pa = a.select(col(idCol).as("doc_id"), md5(col(textCol)).as("ha"))
    val pb = b.select(col(idCol).as("doc_id"), md5(col(textCol)).as("hb"))
    pa.join(pb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("hb").isNull, "removed")
          .when(col("ha").isNull, "added")
          .when(col("ha") === col("hb"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Corpus upsert — apply an incremental batch over a base corpus
    * (the snapshot-advance counterpart of [[corpusDiff]]'s report):
    * every base document not superseded by the batch survives as
    * `kept`; batch documents land as `updated` (id existed) or
    * `inserted` (new id).
    *
    * Scale shape: the batch is the small side by construction
    * (incremental deliveries vs a 100 TB base), so BOTH probes are
    * broadcast joins against it — the base is scanned, never
    * shuffled: once column-pruned to ids to classify the batch, once
    * in full for the anti-join keep pass. The output is the merged
    * corpus with provenance; no exchange wider than the batch exists
    * in the plan.
    */
  def upsert(base: DataFrame, batch: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val batchIds = batch.select(col(idCol))
    // ids of batch rows that supersede an existing base row — bounded
    // by the batch size, so it broadcasts to classify the batch
    val superseded = base.select(col(idCol))
      .join(broadcast(batchIds), Seq(idCol), "left_semi")
    val kept = base.join(broadcast(batchIds), Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol), lit("kept").as("op"))
    val applied = batch
      .join(broadcast(superseded.withColumn("__hit", lit(1))), Seq(idCol), "left")
      .select(col(idCol), col(textCol),
        when(col("__hit").isNotNull, "updated").otherwise("inserted").as("op"))
    kept.unionByName(applied)
  }

  /** Corpus-size-derived cluster count for [[semanticDedup]]:
    * `max(16, ⌈n / targetOccupancy⌉)`, capped at `n` so tiny corpora
    * stay trainable (a quantizer cannot have more centroids than
    * sample points). Mean occupancy ≤ targetOccupancy keeps the
    * within-cluster all-pairs stage O(n · targetOccupancy) — linear in
    * corpus size — instead of O(n²/k) at a fixed k.
    */
  private[graft] def deriveClusterCount(n: Long, targetOccupancy: Int): Int = {
    require(n > 0, "semanticDedup needs a non-empty embedding table")
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val derived = math.max(16L, (n + targetOccupancy - 1) / targetOccupancy)
    math.min(n, math.min(derived, Int.MaxValue.toLong)).toInt
  }

  /** The (k, sampleN) training family [[semanticDedup]] derives from a
    * corpus count — ONE derivation shared with a served SemDeDup
    * index's sign-time centroid training (q82b), so the signed
    * centroids provably come from the same family the dedup pass used
    * to select the kept set; a drifting copy of this arithmetic would
    * silently corrupt every served assignment. */
  private[graft] def semanticFamily(n: Long, targetOccupancy: Int = 128,
      sampleN: Int = 4096): (Int, Int) = {
    val k = deriveClusterCount(n, targetOccupancy)
    (k, math.max(sampleN, 8 * k))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, then drop every vector whose cosine to a LOWER-id
    * vector in the SAME cluster reaches `tau` — semantic near-dups that
    * share no exact n-grams (paraphrases, templated rewrites) and so
    * survive the lexical family (q31/q35/q36). Keep-min-id inside an
    * ε-ball is the same deterministic keeper rule as [[exactDupGroups]].
    *
    * Scale shape: clustering is the bounded-sample driver-side
    * quantizer + one broadcast assign pass ([[Similarity.kmeansClusters]]
    * — the corpus is never shuffled for it); the candidate stage
    * shuffles the corpus ONCE on `cluster` and runs exact cosine only
    * within clusters, so with `k ~ sqrt(n)` the pair work is
    * O(n·sqrt(n)) worst-case against the all-pairs O(n²) — SemDeDup's
    * own argument for clustering first. The keeper rule needs each
    * pair once: `id_a < id_b` halves the join, and the drop set is a
    * distinct of bare ids (16 bytes/row) before the left-anti.
    *
    * `k <= 0` (the default) derives the cluster count from the corpus:
    * `k = max(16, ⌈n / targetOccupancy⌉)` (one metadata-cheap count),
    * so mean cluster size — and with it the per-cluster pair work —
    * stays bounded as the corpus grows instead of going quadratic at a
    * fixed k (the q43 scale-derivation rule applied to clustering).
    * The quantizer's training sample widens with k (≥ 8 points per
    * centroid) but stays a bounded driver-side array.
    *
    * `maxCluster` is the [[embeddingCosinePairs]] degenerate-bucket
    * discipline for the CLUSTER stage: deriving k bounds MEAN
    * occupancy, but 10⁶ copies of one constant vector (a broken
    * embedder — the realistic crawl failure) all assign to the SAME
    * centroid whatever k is, and the within-cluster join goes C(n,2).
    * Over-cap clusters are pruned from the pair join; identical-vector
    * groups inside them still drop their non-keeper members via a
    * keeper star keyed on `xxhash64(v)` — n−1 linear rows, re-verified
    * by true cosine (identical vectors score 1.0 ≥ τ; a 64-bit
    * collision is filtered, not trusted). Under the cap the output is
    * identical to the uncapped operator; what is lost over-cap is
    * near-but-not-identical drops inside degenerate clusters — the
    * standard cap trade.
    */
  def semanticDedup(emb: DataFrame, k: Int = 0, tau: Double = 0.7,
      iters: Int = 10, sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id",
      targetOccupancy: Int = 128,
      maxCluster: Long = Long.MaxValue): DataFrame = {
    // a cluster can never exceed the corpus row count — the count that
    // derives k also retires the cap machinery at sub-cap sizes
    val n = if (k <= 0 || maxCluster != Long.MaxValue) emb.count() else 0L
    val requested = maxCluster != Long.MaxValue && n > maxCluster
    val (kEff, sampleEff) =
      if (k > 0) (k, math.max(sampleN, 8 * k))
      else semanticFamily(n, targetOccupancy, sampleN)
    val assigned0 = Similarity.ivfAssign(emb,
        Similarity.trainIvfCentroids(emb, kEff, iters, sampleEff, seed,
          vecCol, idCol),
        vecCol, idCol)
      .withColumnRenamed("list_id", "cluster")
    // cap requested: the assignment feeds the pair join (both sides),
    // the cluster-count aggregate, the star group/member joins and the
    // final anti-join base — persist so the centroid-assign pass (k
    // dot products per row) runs once
    val assigned = if (requested) graft.CacheRegistry.persist(assigned0)
      else assigned0
    var side = assigned.select(col("cluster"), col(idCol).as("id"),
      col("v"), col("norm"))
    // second-level probe (the minHashLshPairs discipline): one small
    // cluster-count aggregate sends a clean over-count corpus down the
    // plain within-cluster join — no prune, no star, no extra distinct
    var capped = false
    if (requested) {
      val counts = graft.CacheRegistry.persist(
        side.groupBy("cluster").agg(count(lit(1)).as("cn")))
      capped = !counts.filter(col("cn") > maxCluster).isEmpty
      if (capped)
        side = side.join(
          counts.filter(col("cn") <= maxCluster).select("cluster"),
          Seq("cluster"), "left_semi")
    }
    // try_divide: a zero-norm vector (all-zero embedding) scores null
    // instead of aborting the job under ANSI — it is never dropped and
    // never drops anything (cosine undefined), capped and uncapped alike
    var dropped = side.as("a").join(side.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(try_divide(Similarity.dot(col("a.v"), col("b.v")),
        col("a.norm") * col("b.norm")) >= tau)
      .select(col("b.id").as("drop_id"))
    if (capped) {
      // keeper-star recovery: every identical-vector group (the volume
      // a degenerate cluster holds) drops its non-keeper members —
      // keeper = min(id) < member id, so the pair orientation matches
      // the a.id < b.id rule; the cosine re-verify filters 64-bit
      // group-key collisions (and zero vectors, which score null under
      // try_divide exactly as they would in the uncapped join)
      val vn = assigned.select(col(idCol).as("id"), col("v"), col("norm"))
      val star = keeperStars(assigned, col(idCol), xxhash64(col("v")))
        .join(vn.select(col("id").as("star_a"), col("v").as("kv"),
          col("norm").as("knorm")), Seq("star_a"))
        .join(vn.select(col("id").as("star_b"), col("v").as("bv"),
          col("norm").as("bnorm")), Seq("star_b"))
        .filter(try_divide(Similarity.dot(col("kv"), col("bv")),
          col("knorm") * col("bnorm")) >= tau)
        .select(col("star_b").as("drop_id"))
      dropped = dropped.unionByName(star)
    }
    val drops = dropped.distinct()
    assigned.join(drops, assigned(idCol) === drops("drop_id"), "left_anti")
      .select(col(idCol), col("cluster"), round(col("norm"), 4).as("norm"))
  }

  /** Delivery-time SemDeDup — [[semanticDedup]]'s across form (the
    * q43b discipline with CENTROID buckets instead of sign-LSH): the
    * stored corpus keeps its deduped assignment index `(id, v, norm,
    * cluster)` and the FROZEN centroid family; a delivery assigns
    * row-locally against the broadcast centroids (the same argmax-dot
    * kernel as the corpus — [[Similarity.ivfAssign]]) and pairs
    * stored same-cluster rows at cosine ≥ `tau`. Returns
    * `(corpus_id, batch_id, cos)` — which delivery vectors duplicate
    * the published corpus, without re-training, re-assigning or
    * re-pairing the corpus.
    *
    * Cap discipline: `maxCluster` prunes over-cap corpus clusters
    * (broadcast anti-join on the tiny list — served from sign time
    * via `overCapClusters`, one in-query aggregate otherwise, with
    * the empty-probe short-circuit either way); identical delivery
    * vectors recover via the star keepers (xxhash64(v) → corpus id —
    * the DEDUPED index is unique per vector so its projection IS the
    * table), re-verified by true cosine. Zero-norm vectors score null
    * under try_divide — they never pair, never abort. */
  def semanticDedupAcross(corpusIndex: DataFrame,
      centroids: Array[Array[Float]], delivery: DataFrame,
      tau: Double = 0.7, vecCol: String = "embedding",
      idCol: String = "vec_id", maxCluster: Long = Long.MaxValue,
      overCapClusters: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None): DataFrame = {
    val del = graft.CacheRegistry.persist(
      Similarity.ivfAssign(delivery, centroids, vecCol, idCol)
        .withColumnRenamed("list_id", "cluster")
        .select(col(idCol).as("batch_id"), col("v").as("bv"),
          col("norm").as("bnorm"), col("cluster")))
    val requested = maxCluster != Long.MaxValue
    val over = if (!requested) None else Some(overCapClusters.getOrElse(
      graft.CacheRegistry.persist(
        corpusIndex.groupBy("cluster").agg(count(lit(1)).as("cn"))
          .filter(col("cn") > maxCluster).select("cluster"))))
    val capped = over.exists(o => !o.isEmpty)
    var corpus = corpusIndex.select(col("id").as("corpus_id"),
      col("v").as("kv"), col("norm").as("knorm"), col("cluster"))
    if (capped)
      corpus = corpus.join(broadcast(over.get), Seq("cluster"),
        "left_anti")
    val cos = try_divide(Similarity.dot(col("kv"), col("bv")),
      col("knorm") * col("bnorm"))
    var pairs = corpus.join(del, Seq("cluster"))
      .withColumn("cos", cos).filter(col("cos") >= tau)
      .select("corpus_id", "batch_id", "cos")
    if (capped) {
      val keepers = starKeepers.getOrElse(corpusIndex
        .select(xxhash64(col("v")).as("sh"), col("id").as("corpus_id")))
      val star = keepers
        .join(broadcast(del.select(xxhash64(col("bv")).as("sh"),
          col("batch_id"), col("bv"), col("bnorm"))), Seq("sh"))
        .join(corpusIndex.select(col("id").as("corpus_id"),
          col("v").as("kv"), col("norm").as("knorm")), Seq("corpus_id"))
        .withColumn("cos", cos).filter(col("cos") >= tau)
        .select("corpus_id", "batch_id", "cos")
      pairs = pairs.unionByName(star).distinct()
    }
    pairs
  }
}
