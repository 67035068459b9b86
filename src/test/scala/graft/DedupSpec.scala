package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (3L, "completely different content about spark catalyst optimizer rules"),
    (4L, "The Quick, Brown Fox jumps over the lazy dog again and again!"), // key-dup of 0 mod case/punct... (capitals+punct)
  ).toDF("doc_id", "text")

  test("exactDupGroups finds the exact pair only") {
    val groups = Dedup.exactDupGroups(docs).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n") == 2 && groups(0).getAs[Long]("keeper") == 0L)
  }

  test("deduplicate keeps min-id doc per exact group") {
    val kept = Dedup.deduplicate(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L, 4L)) // doc 1 (exact dup of 0) dropped
  }

  test("normalizedKeyPairs also matches case/punctuation variants") {
    val pairs = Dedup.normalizedKeyPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("removeSharedSpansIncremental on a gram-df index equals the batch " +
      "operator over the full union restricted to delivery rows") {
    // stored: boilerplate A shared with one delivery doc; delivery also
    // shares a span WITHIN itself (state df 0 + delivery df 2); a
    // delivery doc with unique text must pass through untouched
    val stored = Seq(
      (0L, "h1 h2 h3 h4 h5 h6 h7 h8 tail0 a b"),
      (1L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val delivery = Seq(
      (10L, "pre h1 h2 h3 h4 h5 h6 h7 h8 post"),      // cut via STORED df
      (11L, "d1 d2 d3 d4 d5 d6 d7 d8 only11"),        // cut via DELIVERY df
      (12L, "d1 d2 d3 d4 d5 d6 d7 d8 only12"),
      (13L, "unique fresh words nothing shared at all here now")
    ).toDF("doc_id", "text")
    val inc = TextAnalysis.removeSharedSpansIncremental(delivery,
        TextAnalysis.spanGramDfs(stored, n = 8), n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val batch = TextAnalysis.removeSharedSpans(
        stored.unionByName(delivery), n = 8, minDf = 2)
      .filter(col("doc_id") >= 10L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(inc.toSeq == batch.toSeq, inc.toSeq)
    // the fixture exercises both df sources: 10 cut by stored grams,
    // 11/12 by each other, 13 untouched
    assert(inc(0)._3 > 0 && inc(1)._3 > 0 && inc(3)._3 == 0L, inc.toSeq)
    // the raw multi-delta union form (loadSpanDfIndex's contract — a
    // gram may repeat per delta) reads identically: the operator sums
    // after its own pruning
    val rawUnion = TextAnalysis.spanGramDfs(
        stored.filter(col("doc_id") === 0L), n = 8)
      .unionByName(TextAnalysis.spanGramDfs(
        stored.filter(col("doc_id") === 1L), n = 8))
    val incRaw = TextAnalysis.removeSharedSpansIncremental(delivery,
        rawUnion, n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(incRaw.toSeq == inc.toSeq)
  }

  test("removeSharedSpansIncremental ≡ batch over RANDOM corpora (tiny " +
      "vocab forces heavy cross-doc window collisions)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    (1 to 5).foreach { trial =>
      val corpus = (0L until 24L).map { id =>
        val len = rnd.nextInt(14)
        (id, (0 until len)
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val m = trial % 3
      val stored = corpus.filter(pmod(col("doc_id"), lit(3)) =!= m)
      val delivery = corpus.filter(pmod(col("doc_id"), lit(3)) === m)
      val inc = TextAnalysis.removeSharedSpansIncremental(delivery,
          TextAnalysis.spanGramDfs(stored, n = 3), n = 3)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = TextAnalysis.removeSharedSpans(corpus, n = 3, minDf = 2)
        .filter(pmod(col("doc_id"), lit(3)) === m)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(inc == batch, s"trial $trial")
    }
  }

  test("span-df index: fold equals union resummarize; persisted deltas " +
      "are O(delta), torn deltas ignored, replayed slots idempotent") {
    val a = Seq((0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")).toDF("doc_id", "text")
    val b = Seq((1L, "w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("doc_id", "text")
    val folded = TextAnalysis.foldSpanGramDfs(
        TextAnalysis.spanGramDfs(a, n = 8), TextAnalysis.spanGramDfs(b, n = 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val full = TextAnalysis.spanGramDfs(a.unionByName(b), n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(folded == full)
    val dir = java.nio.file.Files.createTempDirectory("graft-spandf").toFile
    try {
      TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
        TextAnalysis.spanGramDfs(a, n = 8), slot = Some(0L))
      TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
        TextAnalysis.spanGramDfs(b, n = 8))            // auto-slot = 1
      // a torn delta (no _SUCCESS) must be invisible to load
      val torn = new java.io.File(dir, "dfs-delta-7")
      assert(torn.mkdir())
      // load is the RAW delta union (a gram may repeat per delta);
      // consumers aggregate after their own pruning
      def loadedSum = TextAnalysis.loadSpanDfIndex(spark, dir.getPath)
        .groupBy("gh").agg(sum("df").as("df"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(loadedSum == full)
      assert(TextAnalysis.committedSpanDfSlots(spark, dir.getPath)
        .sorted == Seq(0L, 1L))
      // replay: overwriting slot 1 with the same delivery changes nothing
      TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
        TextAnalysis.spanGramDfs(b, n = 8), slot = Some(1L))
      assert(loadedSum == full)
      // compaction folds the union into one aggregated delta; the
      // incremental operator reads either form identically
      val cdir = java.nio.file.Files.createTempDirectory("graft-spandf-c")
      try {
        TextAnalysis.compactSpanDfIndex(spark, dir.getPath, cdir.toString)
        assert(TextAnalysis.committedSpanDfSlots(spark, cdir.toString) == Seq(0L))
        val compacted = TextAnalysis.loadSpanDfIndex(spark, cdir.toString)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(compacted == full)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(cdir.toFile)
      // the compaction crash window: a SNAPSHOT at slot 1 lands but the
      // superseded raw deltas were never deleted — load must serve the
      // snapshot alone (no double-counted grams), and the live set must
      // name exactly the snapshot
      TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
        TextAnalysis.spanGramDfs(a.unionByName(b), n = 8),
        slot = Some(1L), snapshot = true)
      assert(TextAnalysis.liveSpanDfSlots(spark, dir.getPath) ==
        Seq((1L, true)))
      assert(loadedSum == full)
      // a DELTA at a slot the snapshot supersedes would be committed
      // but never loaded (silent gram loss — the new-checkpoint-on-old-
      // state-dir shape): rejected loudly
      val boom = intercept[IllegalArgumentException] {
        TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
          TextAnalysis.spanGramDfs(a, n = 8), slot = Some(0L))
      }
      assert(boom.getMessage.contains("superseded"), boom.getMessage)
      // a low-slot SNAPSHOT is equally lost (load serves only the
      // LATEST snapshot; the next sweep would delete it): rejected too
      val boomSnap = intercept[IllegalArgumentException] {
        TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
          TextAnalysis.spanGramDfs(a, n = 8), slot = Some(0L),
          snapshot = true)
      }
      assert(boomSnap.getMessage.contains("superseded"), boomSnap.getMessage)
      // sweep removes the two stale deltas the snapshot superseded
      // (the crash-window orphans); the torn high-slot dir stays
      assert(TextAnalysis.sweepSpanDfIndex(spark, dir.getPath) == 2)
      assert(loadedSum == full)
      // a delta AFTER the snapshot joins the live set
      val c = Seq((9L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
      TextAnalysis.saveSpanDfDelta(spark, dir.getPath,
        TextAnalysis.spanGramDfs(c, n = 8), slot = Some(2L))
      val fullC = TextAnalysis.spanGramDfs(
          a.unionByName(b).unionByName(c), n = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(loadedSum == fullC)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("removeSharedSpansIncremental: the stored df table is never a " +
      "broadcast build (the 100 TB driver-OOM guard)") {
    // the stored gram-df table is corpus-gram-cardinality; it may be
    // SCANNED (semi-pruned probe side) but a broadcast build over it
    // collects corpus-scale rows to the driver — pin it structurally
    // the way CurationSpec pins the funnel's survivors relation
    val tmp = java.nio.file.Files.createTempDirectory("graft-spandf-pin")
    try {
      val docs10 = Tables(spark, sf("0.001")).documents
        .select("doc_id", "text")
      TextAnalysis.spanGramDfs(docs10.filter(col("doc_id") % 4 =!= 0), n = 8)
        .write.mode("overwrite").parquet(s"$tmp/dfs")
      val stored = spark.read.parquet(s"$tmp/dfs")
      val out = TextAnalysis.removeSharedSpansIncremental(
        docs10.filter(col("doc_id") % 4 === 0), stored, n = 8)
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def storedIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("graft-spandf-pin"))
          case _ => false
        }
        case _ => false
      }
      val plan = out.queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      val offenders = joins.filter { j =>
        (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
          storedIn(j.left)) ||
        (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
          storedIn(j.right))
      }
      assert(offenders.isEmpty,
        s"stored-df broadcast builds:\n${offenders.mkString("\n")}")
      assert(joins.exists(j =>
        j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST))),
        s"expected a broadcast-hinted delivery-gram build in:\n$plan")
      assert(storedIn(plan), s"stored-df scan missing from:\n$plan")
      assert(out.count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("decontaminateSpans cuts benchmark-covered spans, keeps clean " +
      "prose, leaves leak-free documents untouched") {
    val bench = Seq(
      (100L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
    val corpus = Seq(
      // quotes the full benchmark item mid-document
      (0L, "intro words q1 q2 q3 q4 q5 q6 q7 q8 outro prose here"),
      (1L, "totally clean document with no benchmark overlap at all"),
      (2L, "q1 q2 q3 q4 q5 q6 q7 q8")   // the leak IS the document
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminateSpans(corpus, bench, n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (0L, 13L, 8L, "intro words outro prose here"),
      (1L, 9L, 0L, "totally clean document with no benchmark overlap at all"),
      (2L, 8L, 8L, "")), got)
  }

  test("segmentDedup keeps the first global occurrence of each segment, " +
      "cuts every later one including intra-document repeats") {
    val corpus = Seq(
      (0L, "a b c d e f"),       // segs: [a b c][d e f] — both keepers
      (1L, "a b c x y z"),       // [a b c] dropped (keeper doc 0), [x y z] kept
      (2L, "d e f d e f"),       // both occurrences lose to doc 0's keeper
      (3L, "p q"),               // partial trailing segment kept
      (4L, "")                   // empty doc: zero segments, empty remainder
    ).toDF("doc_id", "text")
    val got = TextAnalysis.segmentDedup(corpus, width = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (0L, 2L, 0L, "a b c d e f"),
      (1L, 2L, 1L, "x y z"),
      (2L, 2L, 2L, ""),
      (3L, 1L, 0L, "p q"),
      (4L, 0L, 0L, "")), got)
  }

  test("segmentDedup on a degenerate corpus (every doc identical) keeps " +
      "exactly one copy — the min-id document") {
    val corpus = (0L until 50L)
      .map(i => (i, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val out = TextAnalysis.segmentDedup(corpus, width = 3)
    assert(out.filter(col("n_dropped") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(out.filter(col("cleaned_text") =!= "").count() == 1)
    // the work is LINEAR in members: one window row per occurrence,
    // never a pair join — 100 rows total for 50 docs x 2 segments
    assert(out.count() == 50)
  }

  test("segmentDedupIncremental: the stored keeper table is never a " +
      "broadcast build (the 100 TB driver-OOM guard)") {
    // the stored segment-keeper table is corpus-segment-cardinality;
    // it may be SCANNED (semi-pruned probe side) but a broadcast build
    // over it collects corpus-scale rows to the driver — the same
    // structural pin as removeSharedSpansIncremental's stored-df guard
    val tmp = java.nio.file.Files.createTempDirectory("graft-segkeeper-pin")
    try {
      val docs10 = Tables(spark, sf("0.001")).documents
        .select("doc_id", "text")
      TextAnalysis.segmentKeepers(
          docs10.filter(col("doc_id") % 4 =!= 0), width = 16)
        .write.mode("overwrite").parquet(s"$tmp/keepers")
      val stored = spark.read.parquet(s"$tmp/keepers")
      val out = TextAnalysis.segmentDedupIncremental(
        docs10.filter(col("doc_id") % 4 === 0), stored, width = 16)
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def storedIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("graft-segkeeper-pin"))
          case _ => false
        }
        case _ => false
      }
      val plan = out.queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      val offenders = joins.filter { j =>
        (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
          storedIn(j.left)) ||
        (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
          storedIn(j.right))
      }
      assert(offenders.isEmpty,
        s"stored-keeper broadcast builds:\n${offenders.mkString("\n")}")
      assert(joins.exists(j =>
        j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST))),
        s"expected a broadcast-hinted delivery-hash build in:\n$plan")
      assert(storedIn(plan), s"stored-keeper scan missing from:\n$plan")
      assert(out.count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("segmentDedupIncremental equals batch segmentDedup over the union " +
      "restricted to delivery rows — keeper precedence both directions") {
    // stored ids sit BETWEEN delivery ids so the struct comparison is
    // exercised both ways: delivery doc 0 precedes stored keeper 10
    // (survives), stored keeper 10 precedes delivery doc 20 (dropped)
    val stored = Seq(
      (10L, "a b c d e f"),       // keepers for [a b c] and [d e f]
      (11L, "m n o")              // keeper for [m n o]
    ).toDF("doc_id", "text")
    val delivery = Seq(
      (0L, "a b c u v w"),        // [a b c]: doc 0 < stored 10 → kept
      (5L, "d e f p q r"),        // [d e f]: stored 10 > 5? no — 5 < 10 → kept
      (20L, "m n o p q r"),       // [m n o] lost to 11; [p q r] lost to 5
      (21L, "")                   // empty doc survives as empty
    ).toDF("doc_id", "text")
    val inc = TextAnalysis.segmentDedupIncremental(delivery,
        TextAnalysis.segmentKeepers(stored, width = 3), width = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val deliveryIds = Set(0L, 5L, 20L, 21L)
    val batch = TextAnalysis.segmentDedup(stored.unionByName(delivery),
        width = 3)
      .filter(col("doc_id").isin(deliveryIds.toSeq: _*))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(inc == batch, s"incremental $inc vs batch $batch")
    assert(inc == Seq(
      (0L, 2L, 0L, "a b c u v w"),
      (5L, 2L, 0L, "d e f p q r"),
      (20L, 2L, 2L, ""),
      (21L, 0L, 0L, "")), inc)
    // a REDELIVERED corpus whose keepers were already folded (outside
    // the disjoint contract, the at-least-once retry shape): every
    // occurrence EQUALS its own stored keeper and must stay KEPT —
    // the drop rule is strictly-greater, not greater-or-equal
    val redelivered = TextAnalysis.segmentDedupIncremental(stored,
        TextAnalysis.segmentKeepers(stored, width = 3), width = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(redelivered == Seq(
      (10L, 0L, "a b c d e f"),
      (11L, 0L, "m n o")), redelivered)
    // storedPrecedes (the streaming-host rule): a stored hit always
    // drops the delivery occurrence, whatever the ids — docs 0 and 5
    // now lose their stored segments too, keeping only fresh content
    val chrono = TextAnalysis.segmentDedupIncremental(delivery,
        TextAnalysis.segmentKeepers(stored, width = 3), width = 3,
        storedPrecedes = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(chrono == Seq(
      (0L, 2L, 1L, "u v w"),
      (5L, 2L, 1L, "p q r"),
      (20L, 2L, 2L, ""),
      (21L, 0L, 0L, "")), chrono)
  }

  test("segment-keeper index: slotted save/load round-trip, raw multi-" +
      "delta union serves identically, compaction supersedes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-segkeeper")
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-segkeeper-c")
    try {
      val s1 = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
      val s2 = Seq((11L, "a b c m n o")).toDF("doc_id", "text")
      // two deliveries land as two deltas — [a b c] appears in BOTH
      // parts; the consumer's post-prune min-merge must pick doc 10
      TextAnalysis.saveSegmentKeeperDelta(spark, tmp.toString,
        TextAnalysis.segmentKeepers(s1, width = 3))
      TextAnalysis.saveSegmentKeeperDelta(spark, tmp.toString,
        TextAnalysis.segmentKeepers(s2, width = 3))
      assert(TextAnalysis.committedSegmentKeeperSlots(spark, tmp.toString)
        .sorted == Seq(0L, 1L))
      val delivery = Seq(
        (0L, "a b c x y z"),      // beats keeper 10 → kept
        (20L, "m n o d e f")      // loses both segments (11 and 10)
      ).toDF("doc_id", "text")
      def serve(keepers: org.apache.spark.sql.DataFrame) =
        TextAnalysis.segmentDedupIncremental(delivery, keepers, width = 3)
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
          .toSeq
      val fromState = serve(
        TextAnalysis.loadSegmentKeeperIndex(spark, tmp.toString))
      val direct = serve(
        TextAnalysis.segmentKeepers(s1.unionByName(s2), width = 3))
      assert(fromState == direct, s"$fromState vs $direct")
      assert(fromState == Seq(
        (0L, 2L, 0L, "a b c x y z"),
        (20L, 2L, 2L, "")), fromState)
      // compaction into a fresh dir folds to ONE snapshot serving the same
      TextAnalysis.compactSegmentKeeperIndex(spark, tmp.toString, tmp2.toString)
      assert(serve(TextAnalysis.loadSegmentKeeperIndex(spark, tmp2.toString))
        == fromState)
      // foldSegmentKeepers merges min-per-hash exactly like the batch
      val folded = TextAnalysis.foldSegmentKeepers(
        TextAnalysis.segmentKeepers(s1, width = 3),
        TextAnalysis.segmentKeepers(s2, width = 3))
        .orderBy("gh").collect().toSeq
      val batchK = TextAnalysis.segmentKeepers(s1.unionByName(s2), width = 3)
        .orderBy("gh").collect().toSeq
      assert(folded == batchK)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp2.toFile)
    }
  }

  test("benchmarkContamination reports per-eval-item gram leakage with " +
      "zeros for clean items") {
    // bench doc 100 shares its whole 8-gram with corpus docs 0 and 1;
    // bench doc 101 is clean. Short docs use the whole-text fallback
    // gram (the q96 shingle convention).
    val corpus = Seq(
      (0L, "s1 s2 s3 s4 s5 s6 s7 s8"),
      (1L, "pre s1 s2 s3 s4 s5 s6 s7 s8"),
      (2L, "c1 c2 c3")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "s1 s2 s3 s4 s5 s6 s7 s8 extra"), // grams: 2, dirty: 1
      (101L, "b1 b2 b3 b4 b5 b6 b7 b8")        // grams: 1, dirty: 0
    ).toDF("doc_id", "text")
    val got = Dedup.benchmarkContamination(corpus, bench)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (100L, 2L, 1L, 0.5, 2L),
      (101L, 1L, 0L, 0.0, 0L)), got)
  }

  test("hamming64Pairs maxBucket prunes degenerate buckets from candidate " +
      "generation, leaves ordinary pairs intact") {
    import spark.implicits._
    // ids 0-9 share one degenerate signature; 100/101 differ by one bit
    // 100/101 share the distinctive 0xABCD chunk (bucket of 2) and
    // differ by one bit; their zero chunks fall in the pruned buckets
    val sig = ((0L until 10L).map(i => (i, 0L)) ++
      Seq((100L, 0xABCD0001L), (101L, 0xABCD0000L))).toDF("id", "h")
    val capped = Dedup.hamming64Pairs(sig, "id", "h", maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)), capped)
    // uncapped default still enumerates the degenerate bucket
    val full = Dedup.hamming64Pairs(sig, "id", "h")
      .filter(col("doc_id_a") < 10).count()
    assert(full == 45L) // C(10,2)
    // the GROUP form reports the degenerate bucket as ONE row
    val groups = Dedup.signatureDupGroups(sig, "id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(groups == Seq((0L, 0L, 10L)), groups)
  }

  test("hamming64PairsCapped: a degenerate bucket emits a LINEAR keeper " +
      "star, genuine near pairs survive, under-cap output = uncapped") {
    import spark.implicits._
    // scaled-down million-member crawl pathology: 1000 ids share ONE
    // degenerate signature (all-black thumbnails / silence / empty
    // docs); 5000/5001 are a genuine Hamming-1 pair whose distinctive
    // 0xBEEF chunk bucket has 2 members
    val sig = ((0L until 1000L).map(i => (i, 0L)) ++
      Seq((5000L, 0xBEEF0001L), (5001L, 0xBEEF0000L))).toDF("id", "h")
    val capped = Dedup.hamming64PairsCapped(sig, "id", "h",
      maxHamming = 3, maxBucket = 100L)
    val rows = capped.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the genuine pair survives the cap (its shared chunk is under cap)
    assert(rows.contains((5000L, 5001L, 1L)), rows.take(5).toSeq)
    // the degenerate group is 999 keeper-star rows, NOT C(1000,2)=499500
    val star = rows.filter(_._1 == 0L)
    assert(star.length == 999 && rows.length == 1000, rows.length)
    assert(star.forall(r => r._3 == 0L && r._2 >= 1L && r._2 <= 999L))
    // under the cap the composite is byte-identical to the plain join
    val small = ((0L until 5L).map(i => (i, 42L)) ++
      Seq((10L, 0xBEEF0001L), (11L, 0xBEEF0000L))).toDF("id", "h")
    val a = Dedup.hamming64PairsCapped(small, "id", "h", 3, 1000L)
      .orderBy("doc_id_a", "doc_id_b").collect().toSeq
    val b = Dedup.hamming64Pairs(small, "id", "h", 3)
      .orderBy("doc_id_a", "doc_id_b").collect().toSeq
    assert(a == b, s"capped-under-cap diverged: $a vs $b")
  }

  test("minHashLshPairs maxBucket: degenerate band buckets emit linear " +
      "keeper stars, banded near pairs survive, under-cap = uncapped") {
    import spark.implicits._
    val boiler = "the same boilerplate page text repeated on every " +
      "mirror of the crawl with nothing distinctive in it at all"
    val longA = (1 to 30).map(i => s"tok$i").mkString(" ")
    val longB = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    // ids 0-999: one degenerate identical group (every band bucket has
    // 1000 members); 5000/5001: a genuine near pair in under-cap buckets
    val docs = ((0L until 1000L).map(i => (i, boiler)) ++
      Seq((5000L, longA), (5001L, longB))).toDF("doc_id", "text")
    val got = Dedup.minHashLshPairs(docs, minEstJaccard = 0.5,
      maxBucket = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val star = got.filter(_._1 == 0L)
    assert(star.length == 999 && star.forall(p => p._3 == 1.0),
      s"${star.length}")
    assert(got.exists(p => p._1 == 5000L && p._2 == 5001L && p._3 >= 0.5),
      got.filter(_._1 == 5000L).toSeq)
    assert(got.length == 1000, got.length) // 999 stars + 1 banded pair
    // under the cap the composite equals the plain join byte-for-byte
    val small = (Seq((0L, boiler), (1L, boiler), (2L, longA), (3L, longB)))
      .toDF("doc_id", "text")
    val a = Dedup.minHashLshPairs(small, minEstJaccard = 0.5,
      maxBucket = 1000L).orderBy("doc_id_a", "doc_id_b").collect().toSeq
    val b = Dedup.minHashLshPairs(small, minEstJaccard = 0.5)
      .orderBy("doc_id_a", "doc_id_b").collect().toSeq
    assert(a == b, s"capped-under-cap diverged: $a vs $b")
  }

  /** Seeded near-duplicate clusters: each cluster is a random 24-token
    * base text and variants with 0–3 tokens replaced, so members agree
    * on several bands but rarely on all, and exact copies make
    * identical-signature groups. Ids are 1..n. */
  private def lshCorpus(seed: Int, clusters: Int, maxSize: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 400).map(i => s"w$i")
    def word() = vocab(rnd.nextInt(vocab.size))
    val texts = (0 until clusters).flatMap { _ =>
      val base = Vector.fill(24)(word())
      Seq.fill(1 + rnd.nextInt(maxSize))((0 until rnd.nextInt(4))
        .foldLeft(base)((v, _) => v.updated(rnd.nextInt(v.size), word()))
        .mkString(" "))
    }
    texts.indices.map(i => (i + 1L, texts(i)))
  }

  /** The signatures' LSH buckets with the operator's defaults (16 bands
    * of 4 rows), on the driver: (band, key) → member ids. */
  private def lshBuckets(sigs: Map[Long, Array[Long]]): Map[(Int, Long), Seq[Long]] =
    sigs.toSeq.flatMap { case (id, s) =>
      graft.functions.Sketch.bandKeys(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(s), 16, 4).toLongArray()
        .zipWithIndex.map { case (k, b) => ((b, k), id) }
    }.groupMap(_._1)(_._2)

  private def estOf(a: Array[Long], b: Array[Long]): Double =
    BigDecimal(a.indices.count(i => a(i) == b(i)).toDouble / 64)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** minHashLshPairs' capped contract on the driver (unique ids, no
    * null texts): every pair sharing an under-cap bucket, plus the
    * (min id, member) stars of identical signatures, estimated once. */
  private def lshReference(corpus: Seq[(Long, String)], maxBucket: Long,
      minEst: Double): Seq[(Long, Long, Double)] = {
    val sigs = Dedup.minHashSignatures(corpus.toDF("doc_id", "text"))
      .as[(Long, Array[Long])].collect().toMap
    val banded = lshBuckets(sigs).values.filter(_.size <= maxBucket)
      .flatMap(ms => for (a <- ms; b <- ms if a < b) yield (a, b)).toSet
    val stars = sigs.toSeq.groupBy(_._2.toSeq).values.flatMap { g =>
      val keeper = g.map(_._1).min
      g.map(_._1).filter(_ != keeper).map((keeper, _))
    }
    (banded ++ stars).toSeq.map { case (a, b) => (a, b, estOf(sigs(a), sigs(b))) }
      .filter(_._3 >= minEst).sorted
  }

  private def lshRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    try df.as[(Long, Long, Double)].collect().toSeq.sorted
    finally CacheRegistry.release(spark)

  test("minHashLshPairs capped kernel: under the cap equals the uncapped " +
      "self-join row for row on seeded corpora with multi-band collisions") {
    Seq(3, 17, 29).foreach { seed =>
      val corpus = lshCorpus(seed, clusters = 25, maxSize = 6)
      val docs = corpus.toDF("doc_id", "text")
      val sigs = Dedup.minHashSignatures(docs).as[(Long, Array[Long])].collect().toMap
      val shared = lshBuckets(sigs).values.filter(_.size >= 2)
        .flatMap(ms => for (a <- ms; b <- ms if a < b) yield (a, b))
        .groupBy(identity).values.map(_.size)
      assert(shared.count(_ >= 2) >= 10 && shared.exists(_ < 16),
        s"seed $seed: too few multi-band collisions")
      val capped = lshRows(Dedup.minHashLshPairs(docs, minEstJaccard = 0.0,
        maxBucket = 1000L))
      val uncapped = lshRows(Dedup.minHashLshPairs(docs, minEstJaccard = 0.0))
      assert(capped.nonEmpty && capped == uncapped, s"seed $seed")
      assert(capped == lshReference(corpus, 1000L, 0.0), s"seed $seed")
    }
  }

  test("minHashLshPairs capped kernel over the cap: equals the driver " +
      "reference; a pair whose first shared band is over the cap and a " +
      "later one under it comes out once") {
    val corpus = lshCorpus(11, clusters = 30, maxSize = 8)
    val maxBucket = 3L
    val sigs = Dedup.minHashSignatures(corpus.toDF("doc_id", "text"))
      .as[(Long, Array[Long])].collect().toMap
    val buckets = lshBuckets(sigs)
    val bandsOf = buckets.toSeq.flatMap { case ((band, _), ms) =>
      for (a <- ms; b <- ms if a < b) yield ((a, b), (band, ms.size <= maxBucket))
    }.groupMap(_._1)(_._2)
    val lateOnes = bandsOf.collect { case (pair, bs)
        if !bs.minBy(_._1)._2 && bs.exists(_._2) => pair }.toSet
    assert(lateOnes.nonEmpty, "no pair with an over-cap first band")
    val got = lshRows(Dedup.minHashLshPairs(corpus.toDF("doc_id", "text"),
      minEstJaccard = 0.0, maxBucket = maxBucket))
    assert(got == lshReference(corpus, maxBucket, 0.0))
    assert(got.map(p => (p._1, p._2)).distinct.size == got.size)
    lateOnes.foreach(pair =>
      assert(got.count(p => (p._1, p._2) == pair) == 1, pair))
  }

  test("minHashLshPairs: null texts and null ids never pair, capped or not") {
    val base = "one two three four five six seven eight nine ten"
    val docs = Seq[(java.lang.Long, String)]((1L, base), (2L, base),
        (3L, null), (4L, null), (5L, null), (6L, ""), (7L, ""),
        (null, base), (8L, base + " eleven"))
      .toDF("doc_id", "text")
    val uncapped = lshRows(Dedup.minHashLshPairs(docs, minEstJaccard = 0.0))
    val capped = lshRows(Dedup.minHashLshPairs(docs, minEstJaccard = 0.0,
      maxBucket = 1000L))
    // empty texts share the all-max signature (est 1.0), as today
    assert(uncapped.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 8L), (2L, 8L), (6L, 7L)),
      uncapped)
    assert(capped == uncapped)
    // over the cap (three null texts share every bucket): stars of the
    // null signatures have no estimate and are dropped
    val over = lshRows(Dedup.minHashLshPairs(docs, minEstJaccard = 0.0,
      maxBucket = 2L))
    assert(!over.exists(p => Set(3L, 4L, 5L)(p._1) || Set(3L, 4L, 5L)(p._2)), over)
    assert(over.contains((6L, 7L, 1.0)), over)
  }

  test("minHashLshPairs with repeated doc_ids (outside the unique-id " +
      "contract): one row per pair of rows sharing a bucket") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "red orange yellow green blue indigo violet black white grey"
    val c = "north south east west up down left right in out"
    val docs = Seq((1L, a), (1L, a), (2L, a), (3L, b), (3L, c), (4L, b))
      .toDF("doc_id", "text")
    val got = lshRows(Dedup.minHashLshPairs(docs, maxBucket = 1000L))
    assert(got == Seq((1L, 2L, 1.0), (1L, 2L, 1.0), (3L, 4L, 1.0)), got)
  }

  test("minHashLshPairsAcross maxBucket: over-cap corpus groups match " +
      "each batch dup ONCE via the corpus keeper; banded pairs survive") {
    import spark.implicits._
    val boiler = "the same boilerplate page text repeated on every " +
      "mirror of the crawl with nothing distinctive in it at all"
    val longA = (1 to 30).map(i => s"tok$i").mkString(" ")
    val longB = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val corpus = Dedup.minHashSignatures(
      ((0L until 500L).map(i => (i, boiler)) ++ Seq((600L, longA)))
        .toDF("doc_id", "text"))
    val batch = Dedup.minHashSignatures(Seq(
      (1000L, boiler), (1001L, boiler),           // dups of the big group
      (1003L, longB),                             // near-edit of 600
      (1004L, "completely unrelated words that never met the corpus")
    ).toDF("doc_id", "text"))
    val got = Dedup.minHashLshPairsAcross(corpus, batch,
      minEstJaccard = 0.5, maxBucket = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // each batch dup pairs the group KEEPER exactly once — never the
    // 500-member clique cross product
    assert(got.count(_._2 == 1000L) == 1 && got.contains((0L, 1000L, 1.0)), got)
    assert(got.count(_._2 == 1001L) == 1 && got.contains((0L, 1001L, 1.0)), got)
    assert(got.exists(p => p._1 == 600L && p._2 == 1003L && p._3 >= 0.5), got)
    assert(!got.exists(_._2 == 1004L), got)
  }

  test("minHashLshPairsAcross star candidates pass the TRUE estimate " +
      "verify — a forced 64-bit group-key collision is filtered, not trusted") {
    import spark.implicits._
    val boiler = "the same boilerplate page text repeated on every " +
      "mirror of the crawl with nothing distinctive in it at all"
    val longA = (1 to 30).map(i => s"tok$i").mkString(" ")
    val longB = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val corpus = Dedup.minHashSignatures(
      ((0L until 500L).map(i => (i, boiler)) ++ Seq((600L, longA)))
        .toDF("doc_id", "text"))
    val batch = Dedup.minHashSignatures(Seq(
      (1000L, boiler),                            // true dup of the group
      (1003L, longB),                             // near-edit of 600
      (1004L, "completely unrelated words that never met the corpus")
    ).toDF("doc_id", "text"))
    // the injected star key maps EVERY signature to group 0 — the worst
    // possible 64-bit collision: every batch doc is PROPOSED against
    // corpus keeper 0, and only rows whose true signature estimate
    // clears the threshold may survive
    val got = Dedup.minHashLshPairsAcrossKeyed(corpus, batch,
        bands = 16, numHashes = 64, minEstJaccard = 0.5,
        maxBucket = 100L, starKey = _ => lit(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the true dup survives its (collision-proposed) star row at est 1.0
    assert(got.contains((0L, 1000L, 1.0)), got)
    // the near-edit still pairs 600 through BANDING; its collision star
    // row against keeper 0 (boiler) fails the verify and is filtered
    assert(got.exists(p => p._1 == 600L && p._2 == 1003L && p._3 >= 0.5), got)
    assert(!got.exists(p => p._1 == 0L && p._2 == 1003L), got)
    // the unrelated doc was proposed by the collision and fully filtered
    assert(!got.exists(_._2 == 1004L), got)
  }

  test("minHashLshPairsAcross served from a parquet signature index " +
      "equals the in-memory pair (q102b's defining equivalence)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sig-index")
    try {
      val docs = Tables(spark, sf("0.001")).documents
        .select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text"))
      val corpusSigs = Dedup.minHashSignatures(docs)
      corpusSigs.write.mode("overwrite").parquet(s"$tmp/sigs")
      def pairs(sigs: org.apache.spark.sql.DataFrame) =
        Dedup.minHashLshPairsAcross(sigs, Dedup.minHashSignatures(batch),
            minEstJaccard = 0.5, maxBucket = 100000L)
          .orderBy("corpus_id", "batch_id").collect().map(_.toSeq).toSeq
      val served = pairs(spark.read.parquet(s"$tmp/sigs"))
      val direct = pairs(corpusSigs)
      assert(served == direct, s"served $served vs direct $direct")
      assert(served.nonEmpty)
      // the persisted index is corpus-signature-scale: it may be
      // SCANNED but never a broadcast build (the 100 TB driver-OOM
      // guard, same structural pin as the span/segment stored state)
      val out = Dedup.minHashLshPairsAcross(
        spark.read.parquet(s"$tmp/sigs"), Dedup.minHashSignatures(batch),
        minEstJaccard = 0.5, maxBucket = 100000L)
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def indexIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("graft-sig-index"))
          case _ => false
        }
        case _ => false
      }
      val offenders = out.queryExecution.optimizedPlan
        .collect { case j: Join => j }
        .filter { j =>
          (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
            indexIn(j.left)) ||
          (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
            indexIn(j.right))
        }
      assert(offenders.isEmpty,
        s"signature-index broadcast builds:\n${offenders.mkString("\n")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("minHashLshPairsAcross with SERVED cap bookkeeping (over-cap bands " +
      "+ star keepers from the index build) is byte-identical to the " +
      "in-memory form and runs NO corpus aggregate per delivery") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-capidx")
    try {
      // dirty corpus: 500 boilerplate copies force every band of the
      // shared signature over a cap of 100; 600 is a clean doc whose
      // near-edit arrives in the delivery
      val boiler = "the same boilerplate page text repeated on every " +
        "mirror of the crawl with nothing distinctive in it at all"
      val longA = (1 to 30).map(i => s"tok$i").mkString(" ")
      val longB = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
      val corpus = Dedup.minHashSignatures(
        ((0L until 500L).map(i => (i, boiler)) ++ Seq((600L, longA)))
          .toDF("doc_id", "text"))
      val batch = Dedup.minHashSignatures(Seq(
        (1000L, boiler), (1003L, longB)).toDF("doc_id", "text"))
      corpus.write.mode("overwrite").parquet(s"$tmp/sigs")
      val signed = spark.read.parquet(s"$tmp/sigs")
      Dedup.minHashStarKeepers(signed)
        .write.mode("overwrite").parquet(s"$tmp/keepers")
      Dedup.minHashOverCapBands(signed, maxBucket = 100L)
        .write.mode("overwrite").parquet(s"$tmp/bands")
      def served = Dedup.minHashLshPairsAcross(signed, batch,
        minEstJaccard = 0.5, maxBucket = 100L,
        overCapBands = Some(spark.read.parquet(s"$tmp/bands")),
        starKeepers = Some(spark.read.parquet(s"$tmp/keepers")))
      val inMem = Dedup.minHashLshPairsAcross(corpus, batch,
          minEstJaccard = 0.5, maxBucket = 100L)
        .orderBy("corpus_id", "batch_id").collect().toSeq
      val got = served.orderBy("corpus_id", "batch_id").collect().toSeq
      assert(got == inMem, s"served $got vs in-memory $inMem")
      // the boiler delivery doc pairs the group keeper via the star,
      // the near-edit pairs 600 via banding — both present
      val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 1000L)) && pairs.contains((600L, 1003L)),
        pairs)
      // plan pin (VERDICT r11 #2): the per-delivery plan may SCAN the
      // index (band join, verify joins, keeper scan) but must not
      // AGGREGATE it — a pre-join Aggregate whose subtree reads the
      // index is exactly the per-delivery band-count/keeper bookkeeping
      // this shape moves to sign time (post-join aggregates are the
      // delivery-sized candidate distincts and stay)
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def indexIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("graft-capidx"))
          case _ => false
        }
        case _ => false
      }
      val offenders = served.queryExecution.optimizedPlan.collect {
        case a: Aggregate
            if indexIn(a.child) && !a.child.exists(_.isInstanceOf[Join]) => a
      }
      assert(offenders.isEmpty,
        s"per-delivery corpus aggregates:\n${offenders.mkString("\n")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("simHashPairs maxBucket: identical-doc recall stays lossless " +
      "under a cap that prunes every chunk bucket") {
    import spark.implicits._
    // 50 identical docs: every chunk bucket has >= 50 members, so a
    // cap of 10 prunes ALL of them from the banding join — the star
    // recovery alone must still connect the group (49 rows, keeper 0)
    val docs = (0L until 50L).map(i => (i, "same exact text body"))
      .toDF("doc_id", "text")
    val got = Dedup.simHashPairs(docs, maxHamming = 3, maxBucket = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.size == 49 && got.forall(p => p._1 == 0L && p._3 == 0L), got.size)
  }

  test("embeddingCosinePairs maxBucket: a constant-vector group emits a " +
      "LINEAR keeper star, genuine near pairs survive, under-cap = uncapped") {
    // scaled-down broken-embedder pathology: 1000 ids share ONE constant
    // vector (a saturated encoder emitting the same embedding for every
    // crawl page) — all land in one sign-LSH bucket whatever nbits is;
    // 5000/5001 are a genuine near pair (cos ≈ 1) on an orthogonal axis
    val cv = Array(10.0f, 0.0f, 0.0f, 0.0f)
    def near(eps: Float) = Array(0.0f, 0.0f, 10.0f, eps)
    val emb = ((0L until 1000L).map(i => (i, cv)) ++
      Seq((5000L, near(0.0f)), (5001L, near(0.1f))))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairs(emb, threshold = 0.9, nbits = 6,
      maxBucket = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the degenerate group is 999 keeper-star rows at cos 1.0, NOT
    // C(1000,2) = 499500 enumerated pairs
    val star = got.filter(_._1 == 0L)
    assert(star.length == 999 && star.forall(p => p._3 == 1.0),
      s"${star.length}")
    // the genuine near pair's bucket is under cap and survives
    assert(got.exists(p => p._1 == 5000L && p._2 == 5001L && p._3 >= 0.9),
      got.filter(_._1 == 5000L).toSeq)
    assert(got.length == 1000, got.length)
    // under the cap the composite equals the plain join byte-for-byte
    val small = (Seq((0L, cv), (1L, cv), (2L, near(0.0f)), (3L, near(0.1f))))
      .toDF("vec_id", "embedding")
    val a = Dedup.embeddingCosinePairs(small, threshold = 0.9, nbits = 6,
        maxBucket = 1000L)
      .orderBy("id_a", "id_b").collect().toSeq
    val b = Dedup.embeddingCosinePairs(small, threshold = 0.9, nbits = 6)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(a == b, s"capped-under-cap diverged: $a vs $b")
  }

  test("zero-norm embeddings (all-zero vectors from a dead encoder) never " +
      "abort the job under ANSI and never pair — capped or uncapped") {
    // cosine is undefined for the zero vector; ANSI mode turns the
    // naive dot/(norm·norm) into a job-aborting DIVIDE_BY_ZERO —
    // try_divide scores the pair null and the threshold filter drops it
    val zero = Array.fill(4)(0.0f)
    def near(eps: Float) = Array(0.0f, 0.0f, 10.0f, eps)
    val emb = ((0L until 50L).map(i => (i, zero)) ++
      Seq((100L, near(0.0f)), (101L, near(0.1f))))
      .toDF("vec_id", "embedding")
    // uncapped: zero-zero pairs share bucket 0 but score null → absent
    val plain = Dedup.embeddingCosinePairs(emb, threshold = 0.9, nbits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == Set((100L, 101L)), plain)
    // capped with the zero group over cap: the star proposes the
    // zero-vector group, the same try_divide verify drops it
    val capped = Dedup.embeddingCosinePairs(emb, threshold = 0.9, nbits = 4,
        maxBucket = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)), capped)
    // semanticDedup, one forced cluster: zero vectors all SURVIVE
    // (null cosine can drop nothing), the near-dup still collapses
    val keptPlain = Dedup.semanticDedup(emb, k = 1, tau = 0.9)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((0L until 50L).forall(keptPlain.contains), keptPlain.size)
    assert(keptPlain.contains(100L) && !keptPlain.contains(101L))
    // capped with the single cluster over cap: no crash, zero vectors
    // survive via the star's null-scoring verify; the non-identical
    // near pair is the documented over-cap recall trade (101 survives)
    val keptCapped = Dedup.semanticDedup(emb, k = 1, tau = 0.9,
        maxCluster = 10L)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((0L until 50L).forall(keptCapped.contains), keptCapped.size)
    assert(keptCapped.contains(100L) && keptCapped.contains(101L))
  }

  test("semanticDedup maxCluster: a degenerate cluster's identical vectors " +
      "still collapse via the keeper star, under-cap = uncapped") {
    // 1000 copies of one constant vector assign to ONE centroid whatever
    // k is; a 4-member near blob (in-blob cos ≈ 1) sits on an orthogonal
    // axis in its own under-cap cluster
    val cv = Array(10.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)
    def blob(i: Int) = {
      val v = Array.fill(8)(0.0f); v(4) = 10.0f; v(5) = 0.01f * i; v
    }
    val emb = ((0L until 1000L).map(i => (i, cv)) ++
      (0 until 4).map(i => ((5000 + i).toLong, blob(i))))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, k = 2, tau = 0.9,
        maxCluster = 100L)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // the constant group collapses to its keeper THROUGH the star (its
    // cluster is over cap, so the pair join never sees it); the near
    // blob's cluster is under cap and dedups through the normal join
    assert(kept == Set(0L, 5000L), kept)
    // under the cap the capped operator equals the uncapped one
    val a = Dedup.semanticDedup(blobEmb, k = 1, tau = 0.9,
        maxCluster = 1000L)
      .orderBy("vec_id").collect().toSeq
    val b = Dedup.semanticDedup(blobEmb, k = 1, tau = 0.9)
      .orderBy("vec_id").collect().toSeq
    assert(a == b, s"capped-under-cap diverged: $a vs $b")
  }

  test("nearDupSourceOverlap reports cross- and intra-source pair counts " +
      "with mean similarity") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps", "sA"),
      (1L, "the quick brown fox jumps", "sB"),   // j=1.0 with doc 0
      (2L, "the quick brown fox leaps", "sB"),   // j=0.6 with docs 0 and 1
      (3L, "totally unrelated words here now", "sC")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.nearDupSourceOverlap(corpus, n = 2, threshold = 0.2)
      .orderBy("source_a", "source_b")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("sA", "sB", 2L, 0.8),   // (0,1) j=1.0 and (0,2) j=0.6
      ("sB", "sB", 1L, 0.6)), got)
    // a null source stays a DISTINCT metadata-less feed (null grouping
    // key, ordered last), never folded into the other side's diagonal
    // by least/greatest null-skipping — and never colliding with a
    // real feed named "(null)"
    val withNull = Seq(
      (0L, "the quick brown fox jumps", Option("sA")),
      (1L, "the quick brown fox jumps", Option.empty[String]),
      (2L, "the quick brown fox jumps", Option("(null)"))
    ).toDF("doc_id", "text", "source")
    val gotN = Dedup.nearDupSourceOverlap(withNull, n = 2, threshold = 0.2)
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        r.getLong(2))).sortBy(_.toString).toSeq
    assert(gotN == Seq(
      ("(null)", None, 1L),          // real "(null)" feed ↔ source-less
      ("(null)", Some("sA"), 1L),    // real "(null)" feed ↔ sA
      ("sA", None, 1L)), gotN)       // sA ↔ source-less
  }

  test("native normalized_key is byte-identical to the regexp formulation") {
    import org.apache.spark.sql.functions.{lower, regexp_replace}
    val texts = Seq("Hello, World! 42", "ÄÖÜ déjà-vu", "a  b\tc", "", "123",
      "MiXeD CaSe#$%^").toDF("t")
    val rows = texts.select(
        graft.functions.TextStats.normalized_key(col("t")).as("k1"),
        regexp_replace(lower(col("t")), "[^a-z0-9]", "").as("k2"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("minHashLshPairs: identical docs have est_jaccard 1.0, near-dups high") {
    // 32 bands × 2 rows: candidate probability ≈ 1 for j ≥ 0.5 (the
    // default 16×4 banding targets j ≥ 0.8 and misses 0.54-pairs ~25%
    // of the time by design)
    val pairs = Dedup.minHashLshPairs(docs, numHashes = 64, bands = 32, minEstJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("simHashPairs: identical docs at hamming 0; unrelated docs absent") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("hamming")).toMap
    assert(pairs((0L, 1L)) == 0L)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("ngramJaccardPairs: exact dup has j=1.0, maxDocFreq prunes") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("j")).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
  }

  test("collect_capped: a hot key's aggregation buffer is bounded at " +
      "cap+1 (sentinel), under-cap groups collect completely") {
    import graft.functions.BoundedAgg
    // 5000 members under one key — the stopword-gram shape. The
    // unbounded collect_list would buffer all 5000 before any filter;
    // the capped collect must stop at cap+1 = 6 (the over-cap sentinel
    // the size filter drops).
    val hot = (0L until 5000L).map(i => ("hot", i)) ++
      (0L until 3L).map(i => ("rare", i))
    val sizes = hot.toDF("k", "id").repartition(8, col("k"))
      .groupBy("k")
      .agg(size(BoundedAgg.collect_capped(col("id"), 5L)).as("n"),
        size(BoundedAgg.collect_capped_pair(col("id"), col("id"), 5L))
          .as("np"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    assert(sizes("hot") == ((6, 6)), sizes)
    assert(sizes("rare") == ((3, 3)), sizes)
  }

  test("ngramJaccardPairs with a hot gram (df >> maxDocFreq): output " +
      "equals the df-pruned self-join reference, no corpus-scale list") {
    // 300 docs share ONE boilerplate bigram (df = 300 >> cap 5) and
    // carry otherwise-unique filler; 3 docs are exact near-dups over
    // rare grams. The hot gram must be dropped by the cap (its member
    // list stops at cap+1 entries — the r16 shape buffered all 300
    // before filtering); the rare cluster must pair exactly as the
    // pre-r16 df-prune + self-join computed it.
    val hotDocs = (0L until 300L).map(i =>
      (i, s"common gram filler${i}a filler${i}b")) ++
      Seq((1000L, "alpha beta gamma delta"),
        (1001L, "alpha beta gamma delta"),
        (1002L, "alpha beta gamma delta epsilon"))
    val df = hotDocs.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, n = 2, threshold = 0.2,
      maxDocFreq = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // reference: the pre-r16 semantics — df prune (2 <= df <= cap)
    // then the exploded self-join
    val withG = df.select(col("doc_id").as("id"),
      Dedup.shingles(Dedup.tokensOf(col("text")), 2).as("grams"))
    val expl = withG.select(col("id"),
      size(col("grams")).cast("bigint").as("ng"),
      explode(col("grams")).as("gram"))
    val keep = expl.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 5).select("gram")
    val pruned = expl.join(keep, Seq("gram"), "left_semi")
    val ref = pruned.as("a").join(pruned.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("da"), col("b.id").as("db"))
      .agg(count(lit(1)).as("inter"), max(col("a.ng")).as("na"),
        max(col("b.ng")).as("nb"))
      .withColumn("j", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 4))
      .filter(col("j") >= 0.2)
      .select("da", "db", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == ref, s"got ${got.size} vs ref ${ref.size}")
    // the rare cluster did pair (the cap dropped only the hot gram)
    assert(got.exists(p => p._1 == 1000L && p._2 == 1001L && p._3 == 1.0),
      got.take(5))
    // and nothing paired through the hot gram alone
    assert(!got.exists(p => p._1 < 300L))
  }

  test("winnowingOverlapPairs with a hot fingerprint (df >> maxDf): " +
      "over-cap hashes drop, rare overlaps survive — bounded member list") {
    // 300 identical boilerplate docs: every winnowed hash has df = 300
    // >> maxDf = 5, so NO pair may be emitted through them; a separate
    // trio of identical rare docs shares all its hashes at df = 3 and
    // must pair at full overlap.
    val boiler = "the same boilerplate page text repeated on every mirror"
    val rare = "completely distinctive article body with unusual words " +
      "covering rich vocabulary across many sentences and paragraphs " +
      "so the winnowed sketch holds several fingerprints"
    val df = ((0L until 300L).map(i => (i, boiler)) ++
      Seq((1000L, rare), (1001L, rare), (1002L, rare)))
      .toDF("doc_id", "text")
    val got = Dedup.winnowingOverlapPairs(df, maxDf = 5L, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1000L, 1001L), (1000L, 1002L), (1001L, 1002L)), got)
  }

  test("winnowing fingerprints: dup docs share the full sketch") {
    val fp = docs.select($"doc_id", TextAnalysis.winnowingFingerprints($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(0L) == fp(1L))
    assert((fp(0L) & fp(3L)).isEmpty)
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val sim = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sim((0L, 1L)) == 1.0 && sim((0L, 2L)) == 0.0)
  }

  test("bruteForceTopK returns k rows ordered by cosine desc") {
    val res = Similarity.bruteForceTopK(
      Tables(spark, sf("0.001")).embeddings, queryId = 0L, k = 5).collect()
    assert(res.length == 5)
    val cs = res.map(_.getAs[Double]("cos"))
    assert(cs.sameElements(cs.sortBy(-_)))
  }

  test("embeddingCosinePairs: banding is a recall superset of one table") {
    import graft.operators.Dedup
    val emb = graft.Tables(spark, sf("0.01")).embeddings
    def pairs(bands: Int): Set[(Long, Long)] =
      Dedup.embeddingCosinePairs(emb, threshold = 0.35, nbits = 6, nBands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs(1)
    val four = pairs(4)
    // band 0 uses the base seed -> single-table pairs are always found
    assert(one.subsetOf(four))
    assert(four.size > one.size, s"banding found nothing extra: ${four.size}")
    // every reported pair genuinely clears the threshold (exact cosine)
    val cos = Dedup.embeddingCosinePairs(emb, threshold = 0.35, nbits = 6,
      nBands = 4).select("cos").collect().map(_.getDouble(0))
    assert(cos.forall(_ >= 0.35))
  }

  test("ivfTopK: full probe equals brute force; partial probe is a subset") {
    import graft.operators.Similarity
    val emb = graft.Tables(spark, sf("0.01")).embeddings
    // probing EVERY list must recover the exact brute-force top-k
    val full = Similarity.ivfTopK(emb, queryIds = Seq(0L), k = 5,
        numLists = 8, nprobe = 8, sampleN = 256)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val brute = Similarity.bruteForceTopK(emb, queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == brute.toSeq)
    // a partial probe returns k rows per query drawn from the corpus
    val part = Similarity.ivfTopK(emb, queryIds = Seq(0L, 1L), k = 5,
        numLists = 8, nprobe = 2, sampleN = 256)
      .collect()
    assert(part.length == 10)
    assert(part.map(_.getLong(0)).toSet == Set(0L, 1L))
    // deterministic across runs (seeded k-means + seeded init)
    val again = Similarity.ivfTopK(emb, queryIds = Seq(0L, 1L), k = 5,
        numLists = 8, nprobe = 2, sampleN = 256)
      .collect()
    assert(part.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("ivfTopKBatch: identical top-k to the driver-side path at scale") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = graft.Tables(spark, sf("0.01")).embeddings
    // the whole corpus as the query set (500 at sf0.01), as a query
    // DataFrame — no driver collect of query vectors on the batch path
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSeq
    val queries = emb
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = Similarity.ivfTopKBatch(emb, queries, k = 3,
        numLists = 8, nprobe = 2, sampleN = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val driver = Similarity.ivfTopK(emb, queryIds = ids, k = 3,
        numLists = 8, nprobe = 2, sampleN = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(ids.size >= 400, s"want a corpus-sized query set, got ${ids.size}")
    assert(batch.sortBy(r => (r._1, r._4)).toSeq ==
      driver.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("embeddingCosinePairs derives hyperplane dim from data (32-dim vectors)") {
    import graft.operators.Dedup
    import spark.implicits._
    // 32-dim corpus: one near-identical pair + orthogonal noise. With
    // the old hardcoded dim=64 the planes zero-padded/truncated and
    // bucketing silently degraded; derived-dim must find the pair.
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = new Array[Float](32); a(axis) = 1f; a((axis + 1) % 32) = eps; a
    }
    val emb = Seq(
      (0L, v(0, 0.01f)), (1L, v(0, 0.02f)),
      (2L, v(7, 0.0f)), (3L, v(19, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(emb, threshold = 0.9, nbits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), pairs)
    // explicit dim parameter gives the same result
    val explicit = Dedup.embeddingCosinePairs(emb, threshold = 0.9, nbits = 4,
      dim = 32).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(explicit == pairs)
  }

  test("IVF training sample is unbiased under clustered-by-id layout") {
    import graft.operators.Similarity
    import spark.implicits._
    // two clusters laid out contiguously by id — a first-N-by-id sample
    // would see ONLY cluster A and train both centroids there; the
    // hash-ordered sample must represent both
    def v(axis: Int, j: Int): Array[Float] = {
      val a = new Array[Float](8); a(axis) = 1f; a(4 + (j % 4)) = 0.05f * (j % 3); a
    }
    val emb = ((0L until 256L).map(i => (i, v(0, i.toInt))) ++
      (256L until 512L).map(i => (i, v(1, i.toInt))))
      .toDF("vec_id", "embedding")
    val cs = Similarity.trainIvfCentroids(emb, numLists = 2, sampleN = 128)
    // one centroid per cluster direction (axis 0 / axis 1 dominant)
    assert(cs.exists(c => c(0) > 0.9), cs.map(_.toSeq).toSeq)
    assert(cs.exists(c => c(1) > 0.9), cs.map(_.toSeq).toSeq)
  }

  test("ivfAssign: every vector lands in exactly one list, no shuffle") {
    import graft.operators.Similarity
    val emb = graft.Tables(spark, sf("0.01")).embeddings
    val centroids = Similarity.trainIvfCentroids(emb, numLists = 4, sampleN = 128)
    val assigned = Similarity.ivfAssign(emb, centroids)
    assert(assigned.count() == emb.count())
    assert(assigned.select("list_id").distinct().count() <= 4)
    // assignment is a single narrow pass: no Exchange in the plan
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("annTopK candidates are a subset of brute-force ranking domain") {
    val res = Similarity.annTopK(Tables(spark, sf("0.001")).embeddings,
      queryIds = Seq(0L), k = 5)
    assert(res.count() <= 5 && res.count() > 0)
  }

  test("langId + quality + token counts are non-degenerate") {
    val d = Tables(spark, sf("0.001")).documents
    val q = TextAnalysis.qualityFeatures(d)
    assert(q.filter(col("n_tokens") <= 0).count() == 0)
    val tc = d.select(TextAnalysis.tokenCountWhitespace(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe"))
    assert(tc.filter(col("bpe") < col("ws")).count() == 0)
  }

  test("trainLangId: char-n-gram softmax separates a multilingual " +
      "fixture on held-out docs; scoring is deterministic") {
    import spark.implicits._
    val langWords = Map(
      "en" -> Seq("the", "and", "of", "is", "with", "for"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
      "fr" -> Seq("le", "la", "les", "et", "est", "dans"),
      "es" -> Seq("el", "los", "y", "es", "un", "por"))
    val langs = langWords.keys.toSeq.sorted
    // 40 docs per language: deterministic sentences mixing that
    // language's function words with shared content tokens
    val rows = for {
      (lang, li) <- langs.zipWithIndex
      k <- 0 until 40
    } yield {
      val ws = langWords(lang)
      val text = (0 until 30).map { j =>
        if (j % 2 == 0) ws((j / 2 + k) % ws.length) else s"content${(j + k) % 7}"
      }.mkString(" ")
      (li * 100L + k, lang, text)
    }
    val df = rows.toDF("doc_id", "lang", "text")
    val train = df.filter(col("doc_id") % 2 === 0)
    val heldOut = df.filter(col("doc_id") % 2 === 1)
    val (vocab, w) = TextAnalysis.trainLangId(train)
    assert(vocab == langs.toIndexedSeq)
    val scored = TextAnalysis.scoreLangId(heldOut, vocab, w)
      .join(heldOut.select(col("doc_id"), col("lang")), "doc_id")
    val n = scored.count()
    val agree = scored.filter(col("pred_lang") === col("lang")).count()
    assert(n == 80 && agree >= (n * 95) / 100, s"$agree/$n held-out")
    // deterministic: identical weights and predictions across runs
    val (vocab2, w2) = TextAnalysis.trainLangId(train)
    assert(vocab2 == vocab &&
      w.flatten.toSeq == w2.flatten.toSeq)
  }

  test("chunkDocuments: stride overlap, trailing partial, empty doc, no shuffle") {
    val docs = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, size 4 stride 3
      (1L, "only two"),
      (2L, "")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(docs, chunkSize = 4, stride = 3)
    val byDoc = chunks.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    // starts 0,3,6,9: full windows then the trailing partial
    assert(byDoc((0L, 0L)) == (4L, "t1 t2 t3 t4"))
    assert(byDoc((0L, 1L)) == (4L, "t4 t5 t6 t7"))
    assert(byDoc((0L, 2L)) == (4L, "t7 t8 t9 t10"))
    assert(byDoc((0L, 3L)) == (1L, "t10"))
    assert(byDoc((1L, 0L)) == (2L, "only two"))
    // empty docs stay represented: one empty chunk
    assert(byDoc((2L, 0L)) == (0L, ""))
    // row-local: no Exchange in the physical plan
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("redactPii: emails and phones counted and replaced, clean text untouched") {
    val docs = Seq(
      (0L, "write to jane.doe+x@lab.example.org or call +44 20 7946 0958 now"),
      (1L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(0L)._1 == 1L && out(0L)._2 == 1L)
    assert(out(0L)._3 == "write to [EMAIL] or call [PHONE] now")
    assert(out(1L) == (0L, 0L, "no pii here at all"))
  }

  test("balancedSample: every stratum cut to the rarest size, deterministic") {
    val rows = (Seq.tabulate(20)(i => (i.toLong, "common")) ++
      Seq((100L, "rare"), (101L, "rare"), (102L, "rare")))
      .toDF("event_id", "event_type")
    val sampled = TextAnalysis.balancedSample(rows, "event_type", "event_id")
    val byType = sampled.collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).sorted.toSeq).toMap
    assert(byType("rare") == Seq(100L, 101L, 102L))
    assert(byType("common").size == 3)
    // deterministic across runs
    val again = TextAnalysis.balancedSample(rows, "event_type", "event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == sampled.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("balancedSample: bucket selection equals the per-stratum rank formulation") {
    import org.apache.spark.sql.expressions.Window
    // skewed strata, enough rows that every hash bucket class appears
    val rows = (Seq.tabulate(700)(i => (i.toLong, "a")) ++
      Seq.tabulate(150)(i => (1000L + i, "b")) ++
      Seq.tabulate(37)(i => (5000L + i, "c")))
      .toDF("event_id", "event_type")
    val got = TextAnalysis.balancedSample(rows, "event_type", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val w = Window.partitionBy("event_type")
      .orderBy(md5(col("event_id").cast("string")), col("event_id"))
    val expected = rows.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= 37).drop("_rk")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == expected)
    assert(got.count(_._2 == "a") == 37 && got.count(_._2 == "c") == 37)
  }

  test("kmeansClusters: partitions the corpus, separates blobs, deterministic") {
    import graft.operators.Similarity
    // two well-separated blobs around orthogonal axes
    val vecs = (Seq.tabulate(40)(i =>
        (i.toLong, Array(10f + i % 3, 0.1f * (i % 5), 0f))) ++
      Seq.tabulate(40)(i =>
        (1000L + i, Array(0.1f * (i % 5), 0f, 10f + i % 3))))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansClusters(vecs, k = 2, sampleN = 80).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.length == 80 && out.map(_._1).distinct.length == 80)
    // each blob lands in ONE cluster, and the clusters differ
    val byBlob = out.groupBy(_._1 < 1000L).view
      .mapValues(_.map(_._2).distinct.toSeq).toMap
    assert(byBlob(true).size == 1 && byBlob(false).size == 1)
    assert(byBlob(true) != byBlob(false))
    val again = Similarity.kmeansClusters(vecs, k = 2, sampleN = 80).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(again == out.sorted.toSeq)
  }

  test("decontaminate: drops exact benchmark text, keeps everything else") {
    val corpus = Seq(
      (0L, "the quick brown fox"),
      (1L, "a training document"),
      (2L, "leaked eval question"),
      (3L, "leaked eval question")).toDF("doc_id", "text")
    val benchmark = Seq((100L, "leaked eval question")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, benchmark).collect().map(_.getLong(0)).sorted
    // BOTH copies of the leaked text go; content match, not id match
    assert(out.toSeq == Seq(0L, 1L))
    // plan: benchmark digests broadcast, corpus anti-joined in place
    val plan = Dedup.decontaminate(corpus, benchmark)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("groupSplit: a group never straddles folds; proportions track the thresholds") {
    val rows = Seq.tabulate(2000)(i => (i.toLong, (i % 200).toLong))
      .toDF("event_id", "user_id")
    val out = TextAnalysis.groupSplit(rows, "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // leakage guard: one fold per group
    val folds = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct.toSeq)
    assert(folds.values.forall(_.size == 1))
    // 200 groups at cc/e6 ≈ 80/10/10: loose sanity bounds
    val bySplit = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit("train") > 1200 && bySplit.getOrElse("val", 0) > 0 &&
      bySplit.getOrElse("test", 0) > 0)
  }

  test("shardExport: positions are a 1..n permutation per shard, deterministic") {
    val rows = Seq.tabulate(300)(i => Tuple1(i.toLong)).toDF("doc_id")
    val out = TextAnalysis.shardExport(rows).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == 300 && out.map(_._1).distinct.length == 300)
    out.groupBy(_._2).foreach { case (shard, rs) =>
      assert("0123456789abcdef".contains(shard))
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    val again = TextAnalysis.shardExport(rows).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(again == out.sorted.toSeq)
  }

  test("vocabulary: counts, df pruning and top-N ordering") {
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "apple banana"),
      (3L, "durian")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(docs, minDf = 2, topN = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // apple: 4 occurrences over 3 docs; banana: 2 over 2; cherry/durian pruned
    assert(out == Seq(("apple", 4L, 3L), ("banana", 2L, 2L)))
    val top1 = TextAnalysis.vocabulary(docs, minDf = 2, topN = 1).collect()
    assert(top1.length == 1 && top1(0).getString(0) == "apple")
  }

  test("connectedComponents: chain, triangle and pair collapse to min-id labels") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (edge)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: long path needs diameter rounds, still converges") {
    // path 0-1-2-...-9: worst case for hash-min (diameter 9).
    // localThreshold=0 forces the DISTRIBUTED loop — this test pins
    // the pointer-jumping rounds, not the union-find fast path
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.connectedComponents(edges, localThreshold = 0L).collect()
    assert(got.length == 10 && got.forall(_.getLong(1) == 0L))
  }

  test("connectedComponents: pointer jumping labels a 60-path in log rounds") {
    // diameter 59: plain hash-min propagation needs 59 rounds — a cap
    // of 9 would silently mislabel the far end. With the comp(comp)
    // jump hop, distances halve per round: 9 rounds cover 2^9 links.
    // (distributed loop forced: the fast path has no rounds at all)
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.connectedComponents(edges, maxIter = 9,
      localThreshold = 0L).collect()
    assert(got.length == 60 && got.forall(_.getLong(1) == 0L))
  }

  test("connectedComponents: driver union-find fast path is label-" +
      "identical to the distributed loop") {
    // a messy deterministic graph: chains, triangles, stars, isolated
    // pairs, and cross-links, with ids out of order
    val rnd = new scala.util.Random(42)
    val edges = (
      (0 until 200).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(e => e._1 != e._2) ++
      Seq((1000L, 1001L), (1001L, 1002L), (2000L, 2001L))
    ).toDF("doc_id_a", "doc_id_b")
    val local = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val dist = Dedup.connectedComponents(edges, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(local == dist && local.nonEmpty)
    // comp is the min member id in both
    local.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp)
    }
  }

  test("nearDeduplicate: keeps exactly each cluster's min-id member") {
    val docs = Tables(spark, sf("0.001")).documents
    val kept = Dedup.nearDeduplicate(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val comps = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.2, maxDocFreq = 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val losers = comps.filter { case (n, c) => n != c }.map(_._1).toSet
    assert(kept == all -- losers && losers.nonEmpty)
    // every cluster still has exactly one surviving member: its label
    val keepers = comps.map(_._2).toSet
    assert(keepers.subsetOf(kept))
  }

  test("nearDeduplicateBy: elects the highest-score member per cluster") {
    // one near-dup cluster where the BEST (longest) copy carries the
    // LARGEST id — min-id keeps doc 1, the quality keeper must keep 3
    val docs = Seq(
      (1L, "alpha beta gamma delta", 22L),
      (2L, "alpha beta gamma delta epsilon", 30L),
      (3L, "alpha beta gamma delta epsilon zeta", 36L),
      (9L, "completely unrelated content here", 33L))
      .toDF("doc_id", "text", "n_chars")
    val byQuality = Dedup.nearDeduplicateBy(docs, "n_chars",
        threshold = 0.1, maxDocFreq = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byQuality == Set(3L, 9L), s"got $byQuality")
    val byMinId = Dedup.nearDeduplicate(docs, threshold = 0.1,
        maxDocFreq = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byMinId == Set(1L, 9L), s"got $byMinId")
    // identical clustering, one keeper each — survivor COUNT matches
    assert(byQuality.size == byMinId.size)
  }

  test("nearDeduplicateBy on the corpus: same clusters as min-id, " +
      "keeper maximizes score") {
    val docs = Tables(spark, sf("0.001")).documents
    val keptBy = Dedup.nearDeduplicateBy(docs, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val comps = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.2,
          maxDocFreq = 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val chars = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantKeepers = comps.groupBy(_._2).values.map { members =>
      members.map(_._1).minBy(n => (-chars(n), n))
    }.toSet
    val losers = comps.map(_._1).toSet -- wantKeepers
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBy == all -- losers && losers.nonEmpty)
  }

  test("upsert: kept/updated/inserted partition the merged corpus; base never shuffles") {
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val batch = Seq((2L, "two v2"), (9L, "nine")).toDF("doc_id", "text")
    val got = Dedup.upsert(base, batch)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "one", "kept"), (3L, "three", "kept"),
      (2L, "two v2", "updated"), (9L, "nine", "inserted")))
    val plan = Dedup.upsert(base, batch).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"base side must never shuffle:\n$plan")
  }

  test("bigramSurprisal: common-bigram text scores below rare-bigram text") {
    val corpus = ((0L until 20L).map(i => (i, "x y x y x y x y")) :+
      (99L, "q w e r t z u i")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(corpus)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(0L) < got(99L), s"got=$got")
    // deterministic across executions
    val again = TextAnalysis.bigramSurprisal(corpus)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == again)
  }

  test("crossContamination: paraphrase keeps its grams, fresh text has none") {
    val bench = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 8-grams "a..h", "b..i" but not the full text (an
      // edited/paraphrased benchmark item — q71's exact digest misses it)
      (1L, "a b c d e f g h i x"),
      (2L, "totally different words here with no overlap at all"),
      // exact copy: every one of its 3 distinct 8-grams is shared
      (3L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val got = Dedup.crossContamination(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 3L))
    // scale shape: benchmark grams broadcast; corpus grams never shuffle
    val plan = Dedup.crossContamination(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("spanContamination: recycled span is flagged, fresh text is not") {
    val toks = (0 until 12).map(i => s"w$i").mkString(" ") // 12 shared tokens
    val contaminated = Seq(
      (0L, toks + " unique zero tail here"),
      (1L, toks + " other one ending words"),
      (2L, "totally fresh document with its own twelve tokens or so in it")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.spanContamination(contaminated, n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_shared"))).toMap
    // docs 0/1: 16 tokens -> 9 shingles each; the first 5 (inside the
    // shared 12-token prefix) occur in both docs
    assert(got(0L) == (9L, 5L) && got(1L) == (9L, 5L))
    assert(got(2L)._2 == 0L)
  }

  test("spanContamination: short doc collapses to one whole-doc shingle") {
    val d = Seq((0L, "tiny doc"), (1L, "tiny doc"), (2L, "different")).toDF("doc_id", "text")
    val got = TextAnalysis.spanContamination(d, n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_shared"))).toMap
    assert(got(0L) == (1L, 1L) && got(1L) == (1L, 1L) && got(2L) == (1L, 0L))
  }

  test("removeSharedSpans: shared span stripped from both docs, fresh doc intact") {
    // docs 0/1 share the 8-token prefix; doc 2 is all-fresh
    val d = Seq(
      (0L, "a b c d e f g h unique0 tail0"),
      (1L, "a b c d e f g h unique1 tail1"),
      (2L, "p q r s t u v w x y z")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeSharedSpans(d, n = 8, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text"))).toMap
    assert(got(0L) == (10L, 8L, "unique0 tail0"))
    assert(got(1L) == (10L, 8L, "unique1 tail1"))
    assert(got(2L) == (11L, 0L, "p q r s t u v w x y z"))
  }

  test("removeSharedSpans: overlapping shared shingles cover their union") {
    // docs share a 9-token run -> two overlapping shingles in each,
    // union covers all 9 tokens, not 16
    val d = Seq(
      (0L, "a b c d e f g h i tail0"),
      (1L, "a b c d e f g h i tail1")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeSharedSpans(d, n = 8, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("cleaned_text"))).toMap
    assert(got(0L) == (9L, "tail0") && got(1L) == (9L, "tail1"))
  }

  test("removeSharedSpans: fully-covered doc becomes the empty string") {
    val d = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeSharedSpans(d, n = 8, minDf = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("cleaned_text")).toMap
    assert(got(0L) == "" && got(1L) == "")
  }

  test("removeSharedSpans: minDf < 2 is rejected, minDf = 3 honored") {
    val d = Seq(
      (0L, "a b c d e f g h t0"),
      (1L, "a b c d e f g h t1"),
      (2L, "a b c d e f g h t2")
    ).toDF("doc_id", "text")
    // df >= 1 semantics is degenerate; previously minDf = 1 silently got
    // the df >= 2 window fast path
    intercept[IllegalArgumentException] {
      TextAnalysis.removeSharedSpans(d, n = 8, minDf = 1)
    }
    // minDf = 3: the prefix is in all three docs, still removed
    val got3 = TextAnalysis.removeSharedSpans(d, n = 8, minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("cleaned_text")).toMap
    assert(got3 == Map(0L -> "t0", 1L -> "t1", 2L -> "t2"))
  }

  test("bm25Rank: term-bearing docs outrank term-free docs, rn is 1..n") {
    val d = Seq(
      (0L, "vector vector vector stream"),
      (1L, "vector filler filler filler filler filler filler filler"),
      (2L, "filler filler filler filler"),
      (3L, "stream merge vector")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(d, terms = Seq("vector", "stream", "merge"),
      topN = 4).collect()
    assert(got.map(_.getAs[Long]("rn")).toSeq == Seq(1L, 2L, 3L, 4L))
    // doc 3 hits all three terms in a 3-token doc; doc 2 has none -> last
    assert(got.head.getAs[Long]("doc_id") == 3L)
    assert(got.last.getAs[Long]("doc_id") == 2L)
    assert(got.last.getAs[Double]("score") == 0.0)
    // scores non-increasing down the ranking
    val scores = got.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("tokenBudgetShards: matches the exact serial prefix-sum, any partitioning") {
    val d = (0L until 200L).map(i => (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // small budget + more partitions than rows exercises empty partitions
    val got = TextAnalysis.tokenBudgetShards(d, budget = 10L, numPartitions = 16)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var run = 0L
    val expected = (0L until 200L).map { i =>
      val nt = (i % 7) + 1
      val shard = run / 10L
      run += nt
      (i, nt, shard)
    }
    assert(got.toSeq == expected)
  }

  test("mixtureSample: rate-1 sources pass whole, rates follow weights") {
    // srcA has weight 3 of (3+1)=4 but only 1/5 of the tokens -> its
    // desired share exceeds availability, rate clamps to 1.0 and every
    // srcA doc survives; srcB gets the residual rate < 1
    val d = (0L until 20L).map(i =>
      (i, Seq.fill(10)("w").mkString(" "), if (i < 4) "srcA" else "srcB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.mixtureSample(d,
      weights = Map("srcA" -> 3.0), defaultWeight = 1.0, budgetFrac = 0.5)
      .collect()
    val bySrc = got.groupBy(_.getAs[String]("source"))
    assert(bySrc("srcA").length == 4) // clamped rate 1.0 keeps all
    assert(bySrc("srcA").forall(_.getAs[Double]("rate") == 1.0))
    // srcB rate = 0.5 * 200 * (1/4) / 160 = 0.15625
    assert(bySrc("srcB").forall(_.getAs[Double]("rate") == 0.1563))
    assert(bySrc("srcB").length < 16) // subsampled, content-independent
    // deterministic: identical second run
    val again = TextAnalysis.mixtureSample(d,
      weights = Map("srcA" -> 3.0), defaultWeight = 1.0, budgetFrac = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == got.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("invertedIndex: df counts distinct docs, postings capped and sorted") {
    val d = Seq(
      (5L, "alpha alpha alpha beta"), // alpha repeated: one posting
      (1L, "alpha beta"),
      (2L, "alpha beta"),
      (3L, "alpha gamma"),
      (4L, "gamma gamma")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(d, minDf = 2, cap = 3)
      .collect().map(r => r.getAs[String]("tok") ->
        (r.getAs[Long]("df"), r.getAs[String]("postings"))).toMap
    assert(got("alpha") == (4L, "1,2,3")) // df is FULL count, postings capped at 3
    assert(got("beta") == (3L, "1,2,5"))
    assert(got("gamma") == (2L, "3,4"))
  }

  test("unigramSurprisal: rare-token docs score higher, empty doc scores 0") {
    val d = Seq(
      (0L, "common common common common"),
      (1L, "common common common rare"),
      (2L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramSurprisal(d)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dl"), r.getAs[Double]("surprisal"))).toMap
    assert(got(0L)._1 == 4L && got(1L)._1 == 4L && got(2L) == (0L, 0.0))
    assert(got(1L)._2 > got(0L)._2)
    // doc 0 is all 'common' (p = 7/8): surprisal = ln(8/7) ≈ 0.1335
    assert(math.abs(got(0L)._2 - 0.1335) < 1e-9)
    // the giant-vocabulary shuffle-join path scores identically
    val joined = TextAnalysis.unigramSurprisal(d, broadcastVocab = false)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dl"), r.getAs[Double]("surprisal"))).toMap
    assert(joined == got)
  }

  test("repetitionProfile: top-2-gram with smallest-gram tie-break, dup-5-gram coverage") {
    val d = Seq(
      (0L, "a b a b a b"),                    // top "a b"×3; no repeated 5-gram
      (1L, "x y z w q x y z w q x y z w q"),  // every 5-gram repeats; 4 bigrams tie at 3
      (2L, "solo")                            // shorter than both gram sizes
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionProfile(d)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getAs[String]("top_gram") == "a b")
    assert(got(0L).getAs[Long]("top_cnt") == 3L)
    // 3 occurrences × 3 chars / 11 chars
    assert(got(0L).getAs[Double]("top_char_frac") == 0.8182)
    assert(got(0L).getAs[Long]("dup5_covered") == 0L)
    assert(got(0L).getAs[Double]("dup5_frac") == 0.0)
    // ties at cnt 3 ("w q","x y","y z","z w") break to the smallest gram
    assert(got(1L).getAs[String]("top_gram") == "w q")
    assert(got(1L).getAs[Long]("top_cnt") == 3L)
    // all 15 positions covered by a duplicated 5-gram
    assert(got(1L).getAs[Long]("dup5_covered") == 15L)
    assert(got(1L).getAs[Double]("dup5_frac") == 1.0)
    assert(got(2L).getAs[String]("top_gram") == "")
    assert(got(2L).getAs[Long]("top_cnt") == 0L)
    assert(got(2L).getAs[Double]("top_char_frac") == 0.0)
    assert(got(2L).getAs[Long]("dup5_covered") == 0L)
  }

  test("dsirSelect: target-like documents rank first, integer-micronat scoring") {
    val d = Seq(
      (0L, "src0", "ml ml data"),
      (1L, "src1", "web web web"),
      (2L, "src1", "ml data"),
      (3L, "src1", "web data")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.dsirSelect(d, col("source") === "src0", topN = 2)
      .collect()
    // raw: ml 3, web 4, data 3 (V=3, total 10); target: ml 2, data 1 (total 3)
    // microw: ml  = ln(3/6)−ln(4/13) ≈ 0.4855; data = ln(2/6)−ln(4/13) ≈ 0.0800
    // doc0 = (2·ml + data)/3 ≈ 0.3503 > doc2 = (ml + data)/2 ≈ 0.2828
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 2L))
    assert(math.abs(got(0).getAs[Double]("logratio") - 0.3503) < 2e-4)
    assert(math.abs(got(1).getAs[Double]("logratio") - 0.2828) < 2e-4)
    assert(got(0).getAs[Long]("dl") == 3L)
  }

  /** Three orthogonal 8-dim blobs with tiny in-blob jitter: in-blob
    * cosine ≈ 1, cross-blob ≈ 0. */
  private def blobEmb = {
    def blob(base: Int, axis: Int) = (0 until 4).map { i =>
      val v = Array.fill(8)(0.0f)
      v(axis) = 10.0f
      v(axis + 1) = 0.01f * i   // jitter keeps vectors distinct
      ((base + i).toLong, v)
    }
    (blob(0, 0) ++ blob(10, 2) ++ blob(20, 4)).toDF("vec_id", "embedding")
  }

  test("semanticDedup: keep-min-id within cosine tau, orthogonal blobs survive") {
    val kept = Dedup.semanticDedup(blobEmb, k = 1, tau = 0.9)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // each blob collapses to its smallest id; cross-blob cosine ~0 keeps blobs apart
    assert(kept == Set(0L, 10L, 20L))
    // tau above the in-blob cosine keeps everything
    val all = Dedup.semanticDedup(blobEmb, k = 1, tau = 0.9999999)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(all.size == 12)
    // deterministic on the real table: identical second run
    val e = Tables(spark, sf("0.001")).embeddings
    val r1 = Dedup.semanticDedup(e, k = 8, tau = 0.4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val r2 = Dedup.semanticDedup(e, k = 8, tau = 0.4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("semanticFamily is the ONE derivation shared by semanticDedup and " +
      "a served SemDeDup index: exact copies of every kept vector pair " +
      "their stored originals through the across path") {
    // pins the q82/q82b contract: the served index signs with
    // Dedup.semanticFamily(n) — the same (k, sampleN) semanticDedup
    // derives internally. If either side ever re-derives its own copy
    // and the arithmetic drifts, a redelivered kept vector can assign
    // to a DIFFERENT cluster than its stored original and pair nothing;
    // this test redelivers the whole kept set and requires a cosine-1.0
    // pair for every copy.
    val emb = Tables(spark, sf("0.001")).embeddings
    val (kEff, sampleEff) = Dedup.semanticFamily(emb.count())
    val cs = Similarity.trainIvfCentroids(emb, kEff, sampleN = sampleEff)
    val kept = Dedup.semanticDedup(emb, tau = 0.4, maxCluster = 100000L)
    val index = Similarity.ivfAssign(emb, cs)
      .withColumnRenamed("list_id", "cluster")
      .withColumnRenamed("vec_id", "id")
      .join(kept.select(col("vec_id").as("id")), Seq("id"), "left_semi")
    val delivery = emb
      .join(kept.select("vec_id"), Seq("vec_id"), "left_semi")
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val pairs = Dedup.semanticDedupAcross(index, cs, delivery, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keptIds = kept.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(keptIds.nonEmpty)
    val selfPairs = pairs.filter(p => p._1 + 1000000L == p._2)
    assert(selfPairs.map(_._1).toSet == keptIds,
      s"missing self-pairs for ${keptIds -- selfPairs.map(_._1).toSet}")
    assert(selfPairs.forall(p => math.abs(p._3 - 1.0) < 1e-9), selfPairs.take(5).toSeq)
    // and the family arithmetic itself is pinned: floor k at small n,
    // linear occupancy-derived k (with an 8-points-per-centroid sample
    // floor) at scale
    assert(Dedup.semanticFamily(500L) == ((16, 4096)))
    assert(Dedup.semanticFamily(1L << 20) == ((8192, 65536)))
  }

  test("semanticDedup auto-k: derived cluster count keeps occupancy bounded") {
    // small corpora keep the k=16 floor (q82's 500-row scale → 16, so
    // the declared query's output is unchanged by auto-derivation) …
    assert(Dedup.deriveClusterCount(500L, 128) == 16)
    assert(Dedup.deriveClusterCount(2048L, 128) == 16)
    // … large corpora scale k linearly: occupancy ≤ targetOccupancy,
    // so within-cluster pair work is O(n·occupancy), not O(n²/16)
    assert(Dedup.deriveClusterCount(1000000L, 128) == 7813)
    assert(Dedup.deriveClusterCount(10000000L, 128) == 78125)
    // tiny corpora cap at n (quantizer can't exceed its sample)
    assert(Dedup.deriveClusterCount(12L, 128) == 12)
    // auto mode runs end-to-end and keeps exactly the explicit-k keepers
    // at the test scale (derived k == 16 == the old default)
    val e = Tables(spark, sf("0.001")).embeddings
    val auto = Dedup.semanticDedup(e, tau = 0.4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val fixed = Dedup.semanticDedup(e, k = 16, tau = 0.4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(auto == fixed && auto.nonEmpty)
  }

  test("corpusDiff: added/removed/modified/unchanged by content digest") {
    val a = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val b = Seq((1L, "alpha"), (2L, "BETA"), (4L, "delta")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("profileTable: nulls counted, distincts exact, min/max as strings") {
    import graft.operators.Profiling
    val df = Seq[(java.lang.Long, String)]((1L, "b"), (2L, null), (2L, "a"),
      (null, "a")).toDF("k", "s")
    val got = Profiling.profileTable(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toMap
    assert(got("k") == ((1L, 2L, "1", "2")))
    assert(got("s") == ((1L, 2L, "a", "b")))
    // column selection restricts the report
    val only = Profiling.profileTable(df, Seq("s")).collect()
    assert(only.map(_.getString(0)).toSeq == Seq("s"))
  }

  test("skewReport: hot keys ranked with share and fair-share factor") {
    import graft.operators.Profiling
    // 10 rows over 4 keys → mean 2.5 rows/key; "a" holds 6 = 2.4 shares
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val got = Profiling.skewReport(df, "k", k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq((1L, "a", 6L, 0.6, 2.4), (2L, "b", 2L, 0.2, 0.8),
      (3L, "c", 1L, 0.1, 0.4)), s"got $got")
    // bounded top-k, never a window rank over the counts
    val p = Profiling.skewReport(df, "k", k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("collect_min_k"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("vocabGrowth: sparse-regime HLL equals exact distincts; " +
      "state survives parquet") {
    import graft.operators.Profiling
    val docs = Tables(spark, sf("0.001")).documents
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delivery = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-vocab").toFile
    try {
      Profiling.vocabSketch(base).write.mode("overwrite")
        .parquet(new java.io.File(dir, "idx").toString)
      val stored = spark.read.parquet(new java.io.File(dir, "idx").toString)
      val got = Profiling.vocabGrowth(stored, delivery).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      // 31-token vocabularies sit deep inside HLL's exact sparse
      // regime — the estimates must equal the true distinct counts
      def exact(df: org.apache.spark.sql.DataFrame) = df
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("source").agg(countDistinct("tok").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val eb = exact(base)
      val ea = exact(docs)
      assert(got.nonEmpty)
      got.foreach { case (src, (before, after, grew)) =>
        // a source can be entirely absent from the base half — the
        // growth report shows it appearing with before = 0
        assert(before == eb.getOrElse(src, 0L),
          s"$src before $before != ${eb.getOrElse(src, 0L)}")
        assert(after == ea(src), s"$src after $after != ${ea(src)}")
        assert(grew == after - before)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("quantile sketch lifecycle: merged bounds track the exact band; " +
      "filter applies sketch bounds exactly") {
    import graft.operators.Profiling
    val docs = Tables(spark, sf("0.01")).documents
    // materialize ONE sketch state (KLL compaction is randomized —
    // re-evaluating the lazy plan per action could shift a bound by a
    // rank point; production q110 stores the state, so mirror that)
    val combined = Profiling.quantileCombine(
      Profiling.quantileSketch(docs.filter(col("doc_id") % 2 === 0), "n_chars")
        .unionByName(Profiling.quantileSketch(
          docs.filter(col("doc_id") % 2 === 1), "n_chars")))
    val state = spark.createDataFrame(
      spark.sparkContext.parallelize(combined.collect().toIndexedSeq),
      combined.schema)
    // the merged sketch saw every row
    val n = state.select(expr("kll_sketch_get_n_bigint(state)"))
      .head.getLong(0)
    assert(n == docs.count())
    // sketch bounds sit inside a ±3-rank-point bracket of the exact ones
    val qs = Profiling.quantilesFromSketch(state, Seq(0.05, 0.5, 0.95))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    def exactQ(p: Double): Long = docs.stat
      .approxQuantile("n_chars", Array(p), 0.0).head.toLong
    assert(qs(0.05) >= exactQ(0.02) && qs(0.05) <= exactQ(0.08),
      s"p05 ${qs(0.05)} outside [${exactQ(0.02)}, ${exactQ(0.08)}]")
    assert(qs(0.95) >= exactQ(0.92) && qs(0.95) <= exactQ(0.98),
      s"p95 ${qs(0.95)} outside [${exactQ(0.92)}, ${exactQ(0.98)}]")
    assert(qs(0.05) <= qs(0.5) && qs(0.5) <= qs(0.95))
    // the filter applies exactly the bounds the sketch reports
    val kept = Profiling.lengthBandFilterFromSketch(docs, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = docs.filter(col("n_chars").between(qs(0.05), qs(0.95)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == want && kept.nonEmpty && kept.size < docs.count())
  }

  test("vocabVenn: sparse-regime theta equals exact set algebra; " +
      "absent sides report zeros") {
    import graft.operators.Profiling
    val docs = Tables(spark, sf("0.001")).documents
    val aDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val bDocs = docs.filter(col("doc_id") % 2 =!= 0)
    val got = Profiling.vocabVenn(
        Profiling.vocabThetaSketch(aDocs), Profiling.vocabThetaSketch(bDocs))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .collect().map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._1).map { case (s, ts) => s -> ts.map(_._2).toSet }
    val sa = sets(aDocs)
    val sb = sets(bDocs)
    assert(got.nonEmpty)
    got.foreach { case (src, (lost, shared, gained)) =>
      val ea = sa.getOrElse(src, Set.empty[String])
      val eb = sb.getOrElse(src, Set.empty[String])
      assert(lost == (ea -- eb).size.toLong, s"$src lost")
      assert(shared == (ea & eb).size.toLong, s"$src shared")
      assert(gained == (eb -- ea).size.toLong, s"$src gained")
    }
  }

  test("classifierScores: learns the seed rule's source signal, deterministic") {
    val docs = Tables(spark, sf("0.001")).documents
    val scored = TextAnalysis.classifierScores(docs,
        targetPred = col("source") === "src0")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scored.values.forall(s => s >= 0.0 && s <= 1.0))
    // the per-source token-distribution drift is learnable: positives
    // must score clearly above the rest on average
    val (pos, neg) = scored.partition { case (id, _) => srcOf(id) == "src0" }
    val mp = pos.values.sum / pos.size
    val mn = neg.values.sum / neg.size
    assert(mp > mn + 0.05, f"no separation: pos $mp%.4f vs neg $mn%.4f")
    // deterministic: fixed sample order + fixed epochs → identical scores
    val again = TextAnalysis.classifierScores(docs,
        targetPred = col("source") === "src0")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == scored)
  }

  test("packSequences: budget, greedy-closure, and order invariants hold") {
    val docs = Tables(spark, sf("0.001")).documents
    val packed = TextAnalysis.packSequences(docs, seqBudget = 100L,
        shardBudget = 1000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(packed.nonEmpty)
    val bySeq = packed.groupBy(r => (r._1, r._2))
    bySeq.foreach { case ((shard, seq), rows) =>
      val fill = rows.map(_._6).sum
      // a sequence holds <= budget tokens unless it is one oversized chunk
      assert(fill <= 100L || rows.length == 1, s"shard $shard seq $seq: $fill")
      // seq_pos is 1..n in (doc_id, chunk_idx) order
      val ordered = rows.sortBy(r => (r._4, r._5))
      assert(ordered.map(_._3).toSeq == (1L to rows.length).toSeq)
    }
    // greedy closure: the first chunk of every later sequence would have
    // overflowed its predecessor (otherwise the packer closed too early)
    packed.groupBy(_._1).foreach { case (shard, rows) =>
      val seqs = rows.groupBy(_._2).toSeq.sortBy(_._1)
      seqs.sliding(2).foreach {
        case Seq((_, prev), (_, next)) =>
          val prevFill = prev.map(_._6).sum
          val head = next.minBy(_._3)._6
          assert(prevFill > 0 && prevFill + head > 100L,
            s"shard $shard: seq closed early (fill $prevFill, next head $head)")
        case _ => ()
      }
    }
    // deterministic across runs
    def run() = TextAnalysis.packSequences(docs, seqBudget = 100L,
      shardBudget = 1000L).collect().map(_.toString).sorted.toSeq
    assert(run() == run())
  }

  test("pqTopKIvf: full probe + refine equals exact L2 top-k; partial probe stays in-blob") {
    import graft.operators.Similarity
    val emb = blobEmb
    // with every list probed and a refine pool covering the corpus, the
    // exact re-rank makes the output EXACT L2 top-k — computable by hand
    val vecs = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.indices.map(i => (a(i).toDouble - b(i)) * (a(i).toDouble - b(i))).sum)
    val got = Similarity.pqTopKIvf(emb, queryIds = Seq(0L, 10L, 20L), k = 3,
      numLists = 3, nprobe = 3, m = 4, ksub = 4, sampleN = 12, refineFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.length == 9)
    Seq(0L, 10L, 20L).foreach { qid =>
      val expected = vecs.keys.filter(_ != qid).toSeq
        .map(id => (id, l2(vecs(qid), vecs(id))))
        .sortBy { case (id, d) => (d, id) }.take(3).map(_._1)
      val gotIds = got.filter(_._1 == qid).sortBy(_._4).map(_._2).toSeq
      assert(gotIds == expected, s"query $qid: $gotIds vs $expected")
    }
    // emitted distances are true L2 (within the 1e-4 rounding)
    got.foreach { case (qid, id, d, _) =>
      assert(math.abs(d - l2(vecs(qid), vecs(id))) < 1e-3, s"($qid,$id)")
    }
    // partial probe: neighbors still come from the query's own blob
    // (the probed list IS the blob's list for orthogonal blobs)
    val part = Similarity.pqTopKIvf(emb, queryIds = Seq(0L, 10L, 20L), k = 3,
      numLists = 3, nprobe = 1, m = 4, ksub = 4, sampleN = 12)
      .collect()
    part.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(1))
      assert((q / 10) == (v / 10), s"query $q matched cross-blob $v")
    }
    // deterministic across runs
    val again = Similarity.pqTopKIvf(emb, queryIds = Seq(0L, 10L, 20L), k = 3,
      numLists = 3, nprobe = 1, m = 4, ksub = 4, sampleN = 12)
      .collect()
    assert(part.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("IVF-PQ index save/load round-trip serves identical top-k") {
    import graft.operators.Similarity
    val emb = blobEmb
    val index = Similarity.buildIvfPqIndex(emb, numLists = 3, m = 4,
      ksub = 4, sampleN = 12)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toFile
    try {
      Similarity.saveIvfPqIndex(index, dir.getPath)
      val loaded = Similarity.loadIvfPqIndex(spark, dir.getPath)
      // artifacts survive the parquet round-trip bit-exactly
      assert(loaded.centroids.map(_.toSeq).toSeq ==
        index.centroids.map(_.toSeq).toSeq)
      assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
        index.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      def search(ix: Similarity.IvfPqIndex) =
        Similarity.pqTopKIvfIndexed(ix, emb, queryIds = Seq(0L, 10L, 20L),
          k = 3, nprobe = 3, refineFactor = 8)
          .collect().map(_.toString).sorted.toSeq
      assert(search(loaded) == search(index) && search(loaded).nonEmpty)
      // and the one-shot form is exactly build + search
      val oneShot = Similarity.pqTopKIvf(emb, queryIds = Seq(0L, 10L, 20L),
        k = 3, numLists = 3, nprobe = 3, m = 4, ksub = 4, sampleN = 12,
        refineFactor = 8).collect().map(_.toString).sorted.toSeq
      assert(oneShot == search(index))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("appendToIvfPqIndex: build(base)+append(delta) equals the frozen-" +
      "params full encode, code-identical and top-k-identical") {
    import graft.operators.Similarity
    val emb = blobEmb
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 =!= 0)
    val idx = Similarity.buildIvfPqIndex(base, numLists = 3, m = 4,
      ksub = 4, sampleN = 12)
    val appended = Similarity.appendToIvfPqIndex(idx, delta)
    // frozen centroids/codebooks: the appended codes table must be
    // byte-identical to encoding the whole union in one pass
    def codeMap(codes: org.apache.spark.sql.DataFrame) = codes.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("list_id"), r.getAs[Array[Byte]]("code").toSeq)).toMap
    val full = Similarity.encodeIvfPq(emb, idx.centroids, idx.codebooks)
    assert(codeMap(appended.codes) == codeMap(full))
    assert(appended.codes.count() == 12)
    // and the served top-k is the same
    def search(ix: Similarity.IvfPqIndex) =
      Similarity.pqTopKIvfIndexed(ix, emb, queryIds = Seq(0L, 11L, 20L),
        k = 3, nprobe = 3, refineFactor = 8)
        .collect().map(_.toString).sorted.toSeq
    assert(search(appended) ==
      search(idx.copy(codes = full)) && search(appended).nonEmpty)
    // append keeps frozen artifacts untouched
    assert(appended.centroids.map(_.toSeq).toSeq ==
      idx.centroids.map(_.toSeq).toSeq)
    assert(appended.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("ivfIndexDriftReport: in-distribution delivery reads flat; a shifted " +
      "delivery shows rising residual energy") {
    import graft.operators.Similarity
    val emb = blobEmb
    val base = emb.filter(col("vec_id") % 2 === 0)
    val idx = Similarity.buildIvfPqIndex(base, numLists = 3, m = 4,
      ksub = 4, sampleN = 12)
    // in-distribution: the odd half of the same blobs — occupancy
    // shares stay put and residual energy stays in the base's band
    val flat = Similarity.ivfIndexDriftReport(idx, base,
        emb.filter(col("vec_id") % 2 =!= 0))
      .collect().map(r => (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(6)))
    assert(flat.nonEmpty && flat.map(_._1).sum == 6 && flat.map(_._2).sum == 6)
    flat.foreach { case (_, _, shareDelta, delCos) =>
      assert(math.abs(shareDelta) < 0.2, flat.toSeq)
      assert(delCos < 0.05, flat.toSeq) // same blobs: near-zero angle
    }
    // shifted: vectors along a direction no centroid covers — the
    // angular drift must leave the in-distribution band entirely
    val shifted = (0 until 6).map { i =>
      val v = Array.fill(8)(0.0f); v(6) = 10.0f; v(7) = 0.01f * i
      (100L + i, v)
    }.toDF("vec_id", "embedding")
    val drift = Similarity.ivfIndexDriftReport(idx, base, shifted)
      .collect().map(r => r.getDouble(6))
    assert(drift.max > 0.5, drift.toSeq)
  }

  test("tombstoneIvfPqIndexIds: deleted ids vanish from the served index " +
      "without rewriting stored codes; torn tombstones ignored; " +
      "compaction folds the mask in") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = blobEmb
    val base = emb.filter(col("vec_id") % 3 =!= 2)
    val d1 = emb.filter(col("vec_id") % 3 === 2)
    val idx = Similarity.buildIvfPqIndex(base, numLists = 3, m = 4,
      ksub = 4, sampleN = 12)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-tomb").toFile
    try {
      Similarity.saveIvfPqIndex(idx, dir.getPath)
      Similarity.appendIvfPqIndexDelta(spark, dir.getPath, d1)
      val all = Similarity.loadIvfPqIndex(spark, dir.getPath).codes
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // tombstone one base id and one delta id (dedup dropped them)
      val dead = Seq(all.min, d1.collect().map(_.getLong(0)).min)
      val codesMtime = new java.io.File(dir, "codes").lastModified()
      Similarity.tombstoneIvfPqIndexIds(spark, dir.getPath,
        dead.toDF("vec_id"))
      val served = Similarity.loadIvfPqIndex(spark, dir.getPath).codes
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(served == all -- dead, (all -- served).toSeq.sorted)
      // stored codes untouched — deletion is an O(deleted) id write
      assert(new java.io.File(dir, "codes").lastModified() == codesMtime)
      // a torn tombstone set is invisible until committed
      assert(new java.io.File(dir, "tombstones-0/_SUCCESS").delete())
      assert(Similarity.loadIvfPqIndex(spark, dir.getPath).codes.count() ==
        all.size)
      // retry with an explicit slot overwrites it cleanly
      Similarity.tombstoneIvfPqIndexIds(spark, dir.getPath,
        dead.toDF("vec_id"), slot = Some(0L))
      assert(Similarity.loadIvfPqIndex(spark, dir.getPath).codes.count() ==
        all.size - dead.size)
      // compaction folds the mask physically: fresh path serves the
      // same ids with no tombstone dirs
      val cdir = java.nio.file.Files.createTempDirectory("graft-ivfpq-tc").toFile
      try {
        Similarity.saveIvfPqIndex(
          Similarity.loadIvfPqIndex(spark, dir.getPath), cdir.getPath)
        val compacted = Similarity.loadIvfPqIndex(spark, cdir.getPath).codes
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert(compacted == all -- dead)
        assert(!cdir.listFiles.exists(_.getName.startsWith("tombstones")))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(cdir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("appendIvfPqIndexDelta: persisted appends land as O(delta) dirs, " +
      "never rewriting the stored codes; torn deltas ignored and retried over") {
    import graft.operators.Similarity
    val emb = blobEmb
    val base = emb.filter(col("vec_id") % 3 === 0)
    val d1 = emb.filter(col("vec_id") % 3 === 1)
    val d2 = emb.filter(col("vec_id") % 3 === 2)
    val idx = Similarity.buildIvfPqIndex(base, numLists = 3, m = 4,
      ksub = 4, sampleN = 12)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-delta").toFile
    try {
      Similarity.saveIvfPqIndex(idx, dir.getPath)
      val baseCodesMtime = new java.io.File(dir, "codes").lastModified()
      val after1 = Similarity.appendIvfPqIndexDelta(spark, dir.getPath, d1)
      val after2 = Similarity.appendIvfPqIndexDelta(spark, dir.getPath, d2)
      // the stored base codes were never rewritten
      assert(new java.io.File(dir, "codes").lastModified() == baseCodesMtime)
      // each delta dir holds exactly its delivery's codes
      assert(spark.read.parquet(s"${dir.getPath}/codes-delta-0").count() ==
        d1.count())
      assert(spark.read.parquet(s"${dir.getPath}/codes-delta-1").count() ==
        d2.count())
      // the loaded union is code-identical to a frozen-params full encode
      def codeMap(codes: org.apache.spark.sql.DataFrame) = codes.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("list_id"), r.getAs[Array[Byte]]("code").toSeq)).toMap
      val full = Similarity.encodeIvfPq(emb, idx.centroids, idx.codebooks)
      assert(codeMap(after2.codes) == codeMap(full))
      assert(after1.codes.count() == base.count() + d1.count())
      // torn delta: strip the commit marker → load ignores it, and the
      // next append overwrites the slot instead of leaking it
      // (materialize the pre-torn code map eagerly — the retry below
      // overwrites the delta files this lazy scan would re-read)
      val reloadedCodes = codeMap(
        Similarity.loadIvfPqIndex(spark, dir.getPath).codes)
      assert(new java.io.File(dir, "codes-delta-1/_SUCCESS").delete())
      assert(Similarity.loadIvfPqIndex(spark, dir.getPath).codes.count() ==
        base.count() + d1.count())
      val retried = Similarity.appendIvfPqIndexDelta(spark, dir.getPath, d2)
      assert(codeMap(retried.codes) == reloadedCodes)
      assert(!new java.io.File(dir, "codes-delta-2").exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("maintainIvfPqIndex: in-distribution delivery appends under frozen " +
      "quantizers; a shifted delivery returns a retrain verdict untouched") {
    import graft.operators.Similarity
    val emb = blobEmb
    val base = emb.filter(col("vec_id") % 2 === 0)
    val idx = Similarity.buildIvfPqIndex(base, numLists = 3, m = 4,
      ksub = 4, sampleN = 12)
    // in-distribution: drift inside thresholds → appended, codes equal
    // the frozen-params full encode (same contract as appendToIvfPqIndex)
    val inDist = Similarity.maintainIvfPqIndex(idx, base,
      emb.filter(col("vec_id") % 2 =!= 0))
    assert(inDist.appended && inDist.retrainReason.isEmpty)
    assert(inDist.index.codes.count() == 12)
    assert(inDist.index.centroids.map(_.toSeq).toSeq ==
      idx.centroids.map(_.toSeq).toSeq)
    // shifted: a direction no centroid covers → verdict, index untouched
    val shifted = (0 until 6).map { i =>
      val v = Array.fill(8)(0.0f); v(6) = 10.0f; v(7) = 0.01f * i
      (100L + i, v)
    }.toDF("vec_id", "embedding")
    val out = Similarity.maintainIvfPqIndex(idx, base, shifted)
    assert(!out.appended && out.retrainReason.isDefined,
      out.retrainReason.toString)
    assert(out.index.codes.count() == idx.codes.count())
    // the verdict names the breached lists (actionable, not a boolean)
    assert(out.retrainReason.get.contains("list "), out.retrainReason.get)
    // sampling-aware floor: a SINGLE in-distribution vector puts share
    // 1.0 in its list — without the 2/√n floor that always breached
    // and drip-fed streams could never grow the index
    val one = Similarity.maintainIvfPqIndex(idx, base,
      emb.filter(col("vec_id") === 1L))
    assert(one.appended && one.retrainReason.isEmpty,
      one.retrainReason.toString)
    // empty delivery: trivial append, report keeps the drift schema
    val none = Similarity.maintainIvfPqIndex(idx, base,
      emb.filter(col("vec_id") === -999L))
    assert(none.appended && none.report.columns.contains("share_delta"))
  }

  test("recallAtK: self-recall is 1.0, misses lower it, mean row appended") {
    import graft.operators.Similarity
    val exact = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L), (1L, 21L, 2L))
      .toDF("query_id", "vec_id", "rn")
    val self = Similarity.recallAtK(exact, exact, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(self == Map(0L -> 1.0, 1L -> 1.0, -1L -> 1.0))
    // approx missed one of query 1's two ids
    val approx = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L), (1L, 99L, 2L))
      .toDF("query_id", "vec_id", "rn")
    val got = Similarity.recallAtK(approx, exact, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 1.0, 1L -> 0.5, -1L -> 0.75))
  }

  test("pqTopK: ADC neighbors come from the query's blob; codes deterministic") {
    val emb = blobEmb
    val got = Similarity.pqTopK(emb, queryIds = Seq(0L, 10L, 20L), k = 3,
      m = 4, ksub = 4, sampleN = 12)
      .collect()
    assert(got.length == 9) // 3 queries × k=3
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val v = r.getAs[Long]("vec_id")
      assert(v / 10 == q / 10, s"query $q got cross-blob neighbor $v")
    }
    val cbs = Similarity.trainPqCodebooks(emb, m = 4, ksub = 4, sampleN = 12)
    val c1 = Similarity.pqEncode(emb, cbs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("code").toSeq).toMap
    val c2 = Similarity.pqEncode(emb, cbs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("code").toSeq).toMap
    assert(c1 == c2)
    assert(c1.values.forall(_.length == 4)) // m bytes per vector
  }

  test("stupidBackoffSurprisal: OOV/backoff math and bigram-model ordering agreement") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "the cat sat on the mat", "ref"),
      (1L, "the cat sat on the mat", "other"), // exact reference text
      (2L, "zz qq ww ee rr tt", "other"),      // fully OOV
      (3L, "the the the the the the", "other") // repetitive, in-vocab token
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis
      .stupidBackoffSurprisal(docs, refPred = col("source") === "ref")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // every doc scored with its token count as dl
    assert(got.keySet == Set(0L, 1L, 2L, 3L) && got(2L)._1 == 6L)
    // the reference text itself: every longest n-gram matches with
    // count ratio 1 after position 0 → only position surprisals from
    // the unigram base at pos 0; strictly below the OOV doc
    assert(got(1L)._2 < got(2L)._2, got)
    // fully-OOV doc: position i scores ln(N=6 tokens) + (k-1)*0.916291
    // nats; mean over k=1,2,3,4,5,5 backoff ladders
    val lnN = math.round(math.log(6.0) * 1e6)
    val expected2 = (0 until 6).map(i => lnN + math.min(i, 4) * 916291L).sum /
      (6.0 * 1e6)
    assert(math.abs(got(2L)._2 - (math.rint(expected2 * 1e4) / 1e4)) < 1e-9, got)
    // ordering agreement with the bigram model where both models see
    // the same signal: repetitive in-vocab text below gibberish
    val bg = graft.operators.TextAnalysis.bigramSurprisal(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(3L)._2 < got(2L)._2 && bg(3L) < bg(2L), (got, bg))
  }

  test("backoff_candidates kernel ≡ the nested-transform HOF formulation " +
      "on seeded random token arrays (both with and without prefix)") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(112)
    // null elements included (r17, ADVICE fix): array_join SKIPS a null
    // with its delimiter while an empty string stays a kept element —
    // the kernel must pin both behaviors, not just the no-null case
    val vocab = Vector("a", "bb", "ccc", "déjà", "x1", "", "zz", null, null)
    val rows = (0 until 60).map { i =>
      val n = rnd.nextInt(12) // includes empty arrays
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))))
    }
    val df = rows.toDF("id", "toks")
    def hof(withPrefix: Boolean) = {
      val prefixField = if (withPrefix)
        ",\n                array_join(slice(toks, pos - n + 2, n - 1), ' ') as prefix"
      else ""
      // the HOF form requires the caller's size>0 filter (q112 applies
      // it); the kernel handles empty arrays natively (asserted below)
      df.filter(size(col("toks")) > 0)
        .select(col("id"), explode(flatten(expr(
        s"""transform(sequence(0, size(toks) - 1), pos ->
              transform(sequence(1, least(5, pos + 1)), n ->
                struct(pos as pos, least(5, pos + 1) as k, n as n,
                  array_join(slice(toks, pos - n + 2, n), ' ') as gram$prefixField)))"""
      ))).as("g")).selectExpr("id", "g.*")
    }
    def kernel(withPrefix: Boolean) =
      df.select(col("id"), explode(graft.functions.Sketch
        .backoff_candidates(col("toks"), 5, withPrefix)).as("g"))
        .selectExpr("id", "g.*")
    Seq(true, false).foreach { wp =>
      val a = hof(wp).collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val b = kernel(wp).collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(a == b, s"withPrefix=$wp mismatch")
    }
    // empty token array → zero candidate rows, no error
    assert(kernel(true).filter(col("id").isin(
      rows.filter(_._2.isEmpty).map(_._1): _*)).count() == 0L)
  }

  test("hamming64PairsAcross equals the self-form restricted to " +
      "(corpus, delivery) pairs; over-cap groups recover via keeper " +
      "stars; served bookkeeping is byte-identical") {
    import spark.implicits._
    val groupSig = 0x1111222233334444L
    val cleanSig = 0x5555666677778888L
    val farSig = 0x9999AAAABBBBCCCCL // shares no 16-bit chunk with either
    val corpus = ((0L until 300L).map(i => (i, groupSig)) ++
      Seq((600L, cleanSig))).toDF("doc_id", "sig64")
    val batch = Seq(
      (1000L, groupSig),      // exact member of the degenerate group
      (1001L, cleanSig ^ 1L), // Hamming-1 neighbour of 600
      (1002L, farSig)         // unrelated
    ).toDF("doc_id", "sig64")
    // UNCAPPED parity: across == self-form over the union restricted
    // to cross pairs (corpus ids < 1000 <= batch ids)
    val across = Dedup.hamming64PairsAcross(corpus, batch, "doc_id", "sig64")
      .orderBy("corpus_id", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val self = Dedup.hamming64Pairs(corpus.unionByName(batch), "doc_id", "sig64")
      .filter(col("doc_id_a") < 1000L && col("doc_id_b") >= 1000L)
      .orderBy("doc_id_a", "doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(across == self, s"across $across vs self $self")
    assert(across.contains((600L, 1001L, 1L)) && !across.exists(_._2 == 1002L))
    // CAPPED: the 300-member group is over a cap of 100 — the delivery
    // copy pairs the keeper ONCE via the star (never 300 bucket rows);
    // the Hamming-1 pair survives through its under-cap chunks
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigidx")
    try {
      corpus.write.mode("overwrite").parquet(s"$tmp/sigs")
      val signed = spark.read.parquet(s"$tmp/sigs")
      Dedup.signatureKeepers(signed, "doc_id", "sig64")
        .write.mode("overwrite").parquet(s"$tmp/keepers")
      Dedup.signatureOverCapChunks(signed, "doc_id", "sig64", maxBucket = 100L)
        .write.mode("overwrite").parquet(s"$tmp/chunks")
      val inMem = Dedup.hamming64PairsAcross(corpus, batch, "doc_id",
          "sig64", maxBucket = 100L)
        .orderBy("corpus_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val served = Dedup.hamming64PairsAcross(signed, batch, "doc_id",
          "sig64", maxBucket = 100L,
          overCapChunks = Some(spark.read.parquet(s"$tmp/chunks")),
          starKeepers = Some(spark.read.parquet(s"$tmp/keepers")))
        .orderBy("corpus_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(served == inMem, s"served $served vs in-memory $inMem")
      assert(served.count(_._2 == 1000L) == 1 &&
        served.contains((0L, 1000L, 0L)), served)
      assert(served.contains((600L, 1001L, 1L)), served)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("hamming64PairsAcross random parity: equals the pairwise brute " +
      "force on seeded random signatures (uncapped)") {
    import spark.implicits._
    // signatures drawn around 5 seeds with 0-4 bit flips so genuine
    // Hamming 0-3 pairs, boundary-4 misses and far pairs all occur
    val rnd = new scala.util.Random(7)
    val seeds = Array.fill(5)(rnd.nextLong())
    def near(): Long = {
      var s = seeds(rnd.nextInt(seeds.length))
      val flips = rnd.nextInt(5)
      (0 until flips).foreach(_ => s ^= 1L << rnd.nextInt(64))
      s
    }
    val corpus = (0L until 30L).map(i => (i, near())).toDF("doc_id", "sig64")
    val batch = (1000L until 1015L).map(i => (i, near()))
      .toDF("doc_id", "sig64")
    val got = Dedup.hamming64PairsAcross(corpus, batch, "doc_id", "sig64")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cs = corpus.collect().map(r => (r.getLong(0), r.getLong(1)))
    val bs = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ci, csig) <- cs; (bi, bsig) <- bs
      h = java.lang.Long.bitCount(csig ^ bsig)
      if h <= 3
    } yield (ci, bi, h.toLong)).toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}: " +
      s"missing ${brute -- got}, extra ${got -- brute}")
    assert(brute.nonEmpty, "fixture must generate at least one pair")
  }

  test("signatureChunkCounts additivity — the law the served cap " +
      "bookkeeping sums per-part counts under") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def tbl(ids: Range) = ids.map(i =>
        (i.toLong, rnd.nextLong() >> rnd.nextInt(48), rnd.nextBoolean()))
      .toDF("doc_id", "sig", "decoded")
      .select(col("decoded"), col("sig"))
    val a = tbl(0 until 40)
    val b = tbl(100 until 170)
    def counts(df: org.apache.spark.sql.DataFrame) =
      Dedup.signatureChunkCounts(df).collect()
        .map(r => (r.getBoolean(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
        .toMap
    val whole = counts(a.unionByName(b))
    val summed = (counts(a).toSeq ++ counts(b).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(whole == summed)
  }

  test("embeddingCosinePairsAcross equals the self-form over the union " +
      "restricted to (corpus, delivery) pairs — single and multi band") {
    // corpus: three well-separated directions plus a near pair across
    // the corpus/delivery split; delivery ids sit above every corpus id
    // so the self-form's id_a < id_b orientation IS (corpus, delivery)
    def v(x: Float, y: Float, z: Float, w: Float) = Array(x, y, z, w)
    val corpus = Seq(
      (0L, v(10, 0, 0, 0)), (1L, v(0, 10, 0, 0)), (2L, v(0, 0, 10, 0)),
      (3L, v(7, 7, 0, 0))).toDF("vec_id", "embedding")
    val delivery = Seq(
      (100L, v(10, 0.1f, 0, 0)),  // near dup of 0
      (101L, v(0, 0, 0, 10)),     // novel direction
      (102L, v(7, 7.1f, 0, 0))    // near dup of 3
    ).toDF("vec_id", "embedding")
    for (bands <- Seq(1, 3)) {
      val across = Dedup.embeddingCosinePairsAcross(
          Dedup.embeddingIndex(corpus, nbits = 4, nBands = bands),
          delivery, threshold = 0.9, nbits = 4, nBands = bands)
        .orderBy("corpus_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val self = Dedup.embeddingCosinePairs(
          corpus.unionByName(delivery), threshold = 0.9, nbits = 4,
          nBands = bands)
        .filter(col("id_a") < 100L && col("id_b") >= 100L)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(across == self, s"bands=$bands: across $across vs self $self")
      assert(across.exists(p => p._1 == 0L && p._2 == 100L && p._3 >= 0.9),
        s"bands=$bands: $across")
    }
  }

  test("embeddingCosinePairsAcross maxBucket: over-cap constant-vector " +
      "group recovers delivery copies via star keepers; served " +
      "bookkeeping is byte-identical and never aggregates the index") {
    val cv = Array(10.0f, 0.0f, 0.0f, 0.0f)
    def near(eps: Float) = Array(0.0f, 0.0f, 10.0f, eps)
    val corpus = ((0L until 300L).map(i => (i, cv)) ++
      Seq((600L, near(0.0f)))).toDF("vec_id", "embedding")
    val delivery = Seq(
      (1000L, cv),           // exact copy of the degenerate group
      (1001L, near(0.05f)),  // genuine near dup of 600 (under-cap bucket)
      (1002L, Array(0f, 10f, 0f, 0f)) // novel direction
    ).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-embidx")
    try {
      val index = Dedup.embeddingIndex(corpus, nbits = 4)
      index.write.mode("overwrite").parquet(s"$tmp/index")
      val signed = spark.read.parquet(s"$tmp/index")
      Dedup.embeddingStarKeepers(signed)
        .write.mode("overwrite").parquet(s"$tmp/keepers")
      Dedup.embeddingOverCapBuckets(signed, maxBucket = 100L)
        .write.mode("overwrite").parquet(s"$tmp/buckets")
      def served = Dedup.embeddingCosinePairsAcross(signed, delivery,
        threshold = 0.9, nbits = 4, maxBucket = 100L,
        overCapBuckets = Some(spark.read.parquet(s"$tmp/buckets")),
        starKeepers = Some(spark.read.parquet(s"$tmp/keepers")))
      val inMem = Dedup.embeddingCosinePairsAcross(index, delivery,
          threshold = 0.9, nbits = 4, maxBucket = 100L)
        .orderBy("corpus_id", "batch_id").collect().toSeq
      val got = served.orderBy("corpus_id", "batch_id").collect().toSeq
      assert(got == inMem, s"served $got vs in-memory $inMem")
      val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
      // the exact copy pairs the group KEEPER only (one star row, not
      // 300 over-cap bucket rows); the near dup pairs via banding
      assert(got.count(_.getLong(1) == 1000L) == 1 &&
        pairs.contains((0L, 1000L)), got.filter(_.getLong(1) == 1000L))
      assert(pairs.contains((600L, 1001L)), pairs)
      assert(!pairs.exists(_._2 == 1002L), pairs)
      // plan pins: the index may be SCANNED but never broadcast, and
      // never aggregated pre-join (cap bookkeeping is served state)
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      // corpus-scale tables only: the index and the star keepers must
      // never be broadcast builds; the over-cap bucket LIST is tiny by
      // construction and broadcasting it is the whole point
      def indexIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.exists(r =>
            r.toString.contains("graft-embidx") &&
              !r.toString.contains("/buckets"))
          case _ => false
        }
        case _ => false
      }
      val plan = served.queryExecution.optimizedPlan
      val broadcastOffenders = plan.collect { case j: Join => j }.filter { j =>
        (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) && indexIn(j.left)) ||
        (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) && indexIn(j.right))
      }
      assert(broadcastOffenders.isEmpty, broadcastOffenders.mkString("\n"))
      val aggOffenders = plan.collect {
        case a: Aggregate
            if indexIn(a.child) && !a.child.exists(_.isInstanceOf[Join]) => a
      }
      assert(aggOffenders.isEmpty, aggOffenders.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("embeddingCosinePairsAcross star candidates pass the TRUE cosine " +
      "verify — a forced group-key collision is filtered, not trusted; " +
      "zero-norm vectors never abort or pair") {
    val cv = Array(10.0f, 0.0f, 0.0f, 0.0f)
    val zero = Array.fill(4)(0.0f)
    def near(eps: Float) = Array(0.0f, 0.0f, 10.0f, eps)
    val corpus = ((0L until 200L).map(i => (i, cv)) ++
      Seq((600L, near(0.0f)), (601L, zero))).toDF("vec_id", "embedding")
    val delivery = Seq(
      (1000L, cv),          // true member of the degenerate group
      (1001L, near(0.05f)), // unrelated to the group — collision bait
      (1002L, zero)         // zero-norm: cosine undefined, must not abort
    ).toDF("vec_id", "embedding")
    // every vector forced into ONE star group: each delivery doc is
    // PROPOSED against corpus keeper 0 — only true cosine survives
    val got = Dedup.embeddingCosinePairsAcrossKeyed(
        Dedup.embeddingIndex(corpus, nbits = 4), delivery,
        "embedding", "vec_id", 0.9, 4, 42L, 1, -1, 50L,
        None, None, _ => lit(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.contains((0L, 1000L, 1.0)), got)
    // collision bait: proposed against keeper 0 (cv), cos 0 → filtered;
    // its genuine banding pair with 600 survives
    assert(!got.exists(p => p._1 == 0L && p._2 == 1001L), got)
    assert(got.exists(p => p._1 == 600L && p._2 == 1001L && p._3 >= 0.9), got)
    // zero-norm: scores null everywhere, never pairs, never aborts
    assert(!got.exists(_._2 == 1002L), got)
  }

  test("embeddingCosinePairs knownCount: caller-supplied corpus count " +
      "yields byte-identical output on the over-cap and sub-cap paths") {
    val cv = Array(10.0f, 0.0f, 0.0f, 0.0f)
    def near(eps: Float) = Array(0.0f, 0.0f, 10.0f, eps)
    val emb = ((0L until 40L).map(i => (i, cv)) ++
      Seq((100L, near(0.0f)), (101L, near(0.1f))))
      .toDF("vec_id", "embedding")
    val n = emb.count()
    def run(maxBucket: Long, known: Long) =
      Dedup.embeddingCosinePairs(emb, threshold = 0.9, nbits = 4,
          maxBucket = maxBucket, knownCount = known)
        .orderBy("id_a", "id_b").collect().toSeq
    // over-cap: the supplied count engages the same cap machinery
    assert(run(10L, n) == run(10L, -1L))
    // sub-cap: the supplied count short-circuits to the plain plan
    assert(run(1000L, n) == run(1000L, -1L))
  }

  test("segment_hashes / remove_segments reject wrong-typed inputs at " +
      "ANALYSIS time (ExpectsInputTypes), never misread at runtime") {
    import graft.functions.Sketch
    val bad = Seq((1L, Seq(1L, 2L, 3L))).toDF("doc_id", "toks")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(Sketch.segment_hashes(col("toks"), 16)).collect()
    }
    // drops as array<bigint> instead of array<int> must fail analysis
    val badDrops = Seq((1L, Seq("a", "b"), Seq(0L)))
      .toDF("doc_id", "toks", "drops")
    intercept[org.apache.spark.sql.AnalysisException] {
      badDrops.select(
        Sketch.remove_segments(col("toks"), col("drops"), 16)).collect()
    }
    // the well-typed forms still pass analysis and evaluate
    val ok = Seq((1L, Seq("a", "b", "c"), Seq(0)))
      .toDF("doc_id", "toks", "drops")
    assert(ok.select(Sketch.remove_segments(col("toks"), col("drops"), 2))
      .collect().head.getString(0) == "c")
    assert(ok.select(Sketch.segment_hashes(col("toks"), 2))
      .collect().head.getSeq[Long](0).length == 2)
  }

  test("connectedComponentsIncremental: merges, attachments, fresh " +
      "pairs and intra-component edges all land exactly where batch CC " +
      "over the edge union does") {
    // stored: components {1,2} (comp 1) and {5,6} (comp 5)
    val e1 = Seq((1L, 2L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val labels = Dedup.connectedComponents(e1)
    // delivery edges: (2,5) merges the two components; (6,10) attaches
    // a new node to the merged one; (20,21) is a fresh pair; (1,2) is
    // an intra-component no-op; (30,30) is a degenerate self-edge
    val e2 = Seq((2L, 5L), (6L, 10L), (20L, 21L), (1L, 2L), (30L, 30L))
      .toDF("doc_id_a", "doc_id_b")
    val got = Dedup.connectedComponentsIncremental(labels, e2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.connectedComponents(e1.unionByName(e2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, s"inc-only ${got -- batch}; batch-only ${batch -- got}")
    assert(got == Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (10L, 1L),
      (20L, 20L), (21L, 20L), (30L, 30L)), got)
    // a clean delivery (edges all inside existing components) is a
    // label-table no-op
    val clean = Dedup.connectedComponentsIncremental(labels,
        Seq((5L, 6L)).toDF("doc_id_a", "doc_id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clean == base, clean)
  }

  test("connectedComponentsIncremental: a NEW smaller id becoming the " +
      "component minimum relabels the stored component; served labels " +
      "are scanned, never a broadcast build") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ccidx")
    try {
      val e1 = Seq((100L, 101L), (200L, 201L)).toDF("doc_id_a", "doc_id_b")
      Dedup.connectedComponents(e1)
        .write.mode("overwrite").parquet(s"$tmp/labels")
      val labels = spark.read.parquet(s"$tmp/labels")
      // new doc 7 bridges BOTH stored components: everything -> comp 7
      val e2 = Seq((7L, 100L), (7L, 201L)).toDF("doc_id_a", "doc_id_b")
      val out = Dedup.connectedComponentsIncremental(labels, e2)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((7L, 7L), (100L, 7L), (101L, 7L), (200L, 7L),
        (201L, 7L)), got)
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def labelsIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths
            .exists(_.toString.contains("graft-ccidx"))
          case _ => false
        }
        case _ => false
      }
      val offenders = out.queryExecution.optimizedPlan
        .collect { case j: Join => j }
        .filter { j =>
          (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
            labelsIn(j.left)) ||
          (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
            labelsIn(j.right))
        }
      assert(offenders.isEmpty, offenders.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("hamming64PairsAcross on SimHash signatures equals simHashPairs " +
      "over corpus UNION delivery restricted to (corpus, delivery) " +
      "pairs — the q37b defining equivalence (served ≡ in-memory is " +
      "pinned by the p17b/p18b family)") {
    val corpus = Tables(spark, sf("0.001")).documents
      .select("doc_id", "text")
    val batch = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" v2")).as("text"))
    def signed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        Dedup.simHash64(Dedup.tokensOf(col("text"))).as("sim"))
    val across = Dedup.hamming64PairsAcross(signed(corpus), signed(batch),
        "doc_id", "sim", maxHamming = 3, maxBucket = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reference = Dedup.simHashPairs(corpus.unionByName(batch),
        maxHamming = 3, maxBucket = 100000L)
      .filter(col("doc_id_a") < 1000000L && col("doc_id_b") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(across == reference,
      s"across-only ${across -- reference}; reference-only ${reference -- across}")
    assert(across.nonEmpty)
  }

  test("label store: a torn delta (no part-root _SUCCESS) is invisible " +
      "to loads and a retry of the same slot commits cleanly over it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-labtorn")
    try {
      Dedup.saveLabelDelta(spark, tmp.toString,
        remap = Seq.empty[(Long, Long)].toDF("comp", "newcomp"),
        newLabels = Seq((1L, 1L), (2L, 1L)).toDF("node", "comp"),
        slot = Some(0L), snapshot = true)
      // torn slot 1: sub-tables written, part-root marker ABSENT (the
      // crash window commitPart guards — its _SUCCESS is written last)
      val torn = new java.io.File(tmp.toFile, "lab-delta-1")
      Seq((5L, 1L)).toDF("comp", "newcomp").write.parquet(s"$torn/remap")
      Seq((9L, 9L)).toDF("node", "comp").write.parquet(s"$torn/new")
      // Spark's per-table _SUCCESS files exist inside the sub-dirs;
      // only the part-root marker commits the slot
      assert(Dedup.committedLabelSlots(spark, tmp.toString) == Seq(0L))
      val before = Dedup.loadLabelIndex(spark, tmp.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before == Set((1L, 1L), (2L, 1L)), before)
      // retry of slot 1 commits over the torn dir
      Dedup.saveLabelDelta(spark, tmp.toString,
        remap = Seq.empty[(Long, Long)].toDF("comp", "newcomp"),
        newLabels = Seq((7L, 7L)).toDF("node", "comp"), slot = Some(1L))
      val after = Dedup.loadLabelIndex(spark, tmp.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == Set((1L, 1L), (2L, 1L), (7L, 7L)), after)
      assert(Dedup.committedLabelSlots(spark, tmp.toString)
        .sorted == Seq(0L, 1L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("randomized: label-store remap chaining over seeded multi-slot " +
      "streams equals a union-find oracle — the dead-labels-never-" +
      "re-minted composition argument under arbitrary merge orders") {
    import spark.implicits._
    def uf(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => (x, find(x))).toSet
    }
    val rnd = new scala.util.Random(13)
    (1 to 6).foreach { trial =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-labrand")
      try {
        val nBatches = 3 + rnd.nextInt(3)
        var all = Seq.empty[(Long, Long)]
        (0 until nBatches).foreach { b =>
          // widening id span per batch: later batches both merge old
          // components AND mint new smaller-into-larger relabels
          val span = 10 + b * 10 + rnd.nextInt(10)
          val edges = Seq.fill(2 + rnd.nextInt(8))(
            (rnd.nextInt(span).toLong, rnd.nextInt(span).toLong))
          all ++= edges
          if (b == 0)
            Dedup.saveLabelDelta(spark, tmp.toString,
              Seq.empty[(Long, Long)].toDF("comp", "newcomp"),
              Dedup.connectedComponents(edges.toDF("doc_id_a", "doc_id_b")),
              slot = Some(0L), snapshot = true)
          else {
            val served = Dedup.loadLabelIndex(spark, tmp.toString)
            val (remap, newLabels) = Dedup.connectedComponentsDelta(
              served, edges.toDF("doc_id_a", "doc_id_b"))
            Dedup.saveLabelDelta(spark, tmp.toString, remap, newLabels,
              slot = Some(b.toLong))
          }
        }
        val served = Dedup.loadLabelIndex(spark, tmp.toString)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = uf(all)
        assert(served == expected,
          s"trial $trial batches=$nBatches edges=$all\n" +
            s"served-only ${served -- expected}; exp-only ${expected -- served}")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("loadMinHashOverCapFor sums per-delta band counts KEY-PRUNED " +
      "to the probe's own bands — cross-part sums cross the cap, " +
      "unprobed over-cap bands never surface") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhidx")
    try {
      // sigX: a fixed 64-hash signature; 3 copies land in delta 0 and
      // 2 more in delta 1 — every band of sigX then counts 5 across
      // parts (each part alone is under a cap of 4)
      val sigX = (1L to 64L).toArray
      def sigs(ids: Seq[Long]) =
        ids.map(i => (i, sigX)).toDF("id", "sig")
      Dedup.saveMinHashDelta(spark, tmp.toString, sigs(Seq(0L, 1L, 2L)),
        slot = Some(0L))
      Dedup.saveMinHashDelta(spark, tmp.toString, sigs(Seq(3L, 4L)),
        slot = Some(1L))
      // probe shares ONLY band 0 (first 4 hashes) with sigX
      val probe = Seq((1000L, (1L to 4L).toArray ++
        (100L to 159L).toArray)).toDF("id", "sig")
      val over = Dedup.loadMinHashOverCapFor(spark, tmp.toString, probe,
        maxBucket = 4L)
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      // exactly ONE over-cap row: band 0's key. sigX's other 15 bands
      // are equally over cap but the probe never touches them — the
      // pruned sum stays delivery-bounded by construction
      assert(over.length == 1 && over.head._1 == 0, over.toSeq)
      // and a per-part read alone would NOT cross the cap: the sum is
      // what matters (3 + 2 > 4)
      val parts = graft.state.SlotStore.committedParts(spark,
        tmp.toString, Seq("mh-delta"))
      val one = spark.read.parquet(s"${parts.head._3}/cnt")
        .filter(col("bn") > 4).count()
      assert(one == 0L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("minHashLshPairsAcross with a SERVED sign-time band table is " +
      "byte-identical to in-query banding — the delivery scans 20-byte " +
      "band rows instead of re-hashing every corpus signature") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bandtbl")
    try {
      val docs = Tables(spark, sf("0.001")).documents
        .select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text"))
      Dedup.minHashSignatures(docs)
        .write.mode("overwrite").parquet(s"$tmp/sigs")
      val signed = spark.read.parquet(s"$tmp/sigs")
      Dedup.minHashBandTable(signed)
        .write.mode("overwrite").parquet(s"$tmp/bandtbl")
      def pairs(tbl: Option[org.apache.spark.sql.DataFrame]) =
        Dedup.minHashLshPairsAcross(signed,
            Dedup.minHashSignatures(batch), minEstJaccard = 0.5,
            maxBucket = 100000L, corpusBandTable = tbl)
          .orderBy("corpus_id", "batch_id").collect().map(_.toSeq).toSeq
      val served = pairs(Some(spark.read.parquet(s"$tmp/bandtbl")))
      val computed = pairs(None)
      assert(served == computed, s"served $served vs computed $computed")
      assert(served.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("minHashLshPairsAcross with a SERVED binary signature table is " +
      "byte-identical — the verify stage decodes plain byte rows, not " +
      "long arrays, with identical est_jaccard values") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-binsigs")
    try {
      val docs = Tables(spark, sf("0.001")).documents
        .select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text"))
      Dedup.minHashSignatures(docs)
        .write.mode("overwrite").parquet(s"$tmp/sigs")
      val signed = spark.read.parquet(s"$tmp/sigs")
      Dedup.minHashBinSigs(signed)
        .write.mode("overwrite").parquet(s"$tmp/sigsbin")
      def pairs(bin: Option[org.apache.spark.sql.DataFrame]) =
        Dedup.minHashLshPairsAcross(signed,
            Dedup.minHashSignatures(batch), minEstJaccard = 0.5,
            maxBucket = 100000L, corpusBinSigs = bin)
          .orderBy("corpus_id", "batch_id").collect().map(_.toSeq).toSeq
      val served = pairs(Some(spark.read.parquet(s"$tmp/sigsbin")))
      val inline = pairs(None)
      assert(served == inline, s"served $served vs inline $inline")
      assert(served.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("pack_longs / packed_match_count: packed word equality counts " +
      "match the unpacked zip_with count, and wrong-typed inputs fail " +
      "analysis") {
    import spark.implicits._
    import graft.functions.Sketch
    val df = Seq(
      (Array(1L, -2L, Long.MinValue, 0L), Array(1L, -2L, 3L, 0L)),
      (Array(5L, 6L), Array(5L, 7L)),
      (Array.empty[Long], Array.empty[Long])).toDF("a", "b")
    val got = df.select(
      Sketch.packed_match_count(
        Sketch.pack_longs(col("a")), Sketch.pack_longs(col("b"))).as("m"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
        e => e)).cast("long").as("ref")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // 8 bytes per element, preserved bit-for-bit
    val bytes = df.limit(1)
      .select(Sketch.pack_longs(col("a"))).head().getAs[Array[Byte]](0)
    assert(bytes.length == 32)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("s").select(Sketch.pack_longs(col("s"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", "y")).toDF("s", "t")
        .select(Sketch.packed_match_count(col("s"), col("t"))).collect()
    }
  }

  test("fused text kernels: segment_hashes_text / remove_segments_text " +
      "are byte-identical to the token-array forms on ragged input") {
    import spark.implicits._
    import graft.functions.Sketch
    val texts = Seq(
      "a b c d e f g",                       // clean
      "  a  b   c ",                         // leading/trailing/multi space
      "",                                    // empty
      " ",                                   // all spaces
      "único tökens ünïcode żółw a b c d",   // multi-byte UTF-8
      (1 to 40).map(i => s"t$i").mkString(" ")) // several windows
    val df = texts.toDF("text")
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
    val w = 3
    // hash parity
    df.select(Sketch.segment_hashes_text(col("text"), w).as("fused"),
        Sketch.segment_hashes(col("toks"), w).as("arr"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
    // reassembly parity for every drop list shape
    val drops = Seq(Seq.empty[Int], Seq(0), Seq(1), Seq(0, 2), Seq(0, 1, 2, 3, 13))
    drops.foreach { dl =>
      df.select(
          Sketch.remove_segments_text(col("text"), typedLit(dl), w)
            .getField("cleaned_text").as("fused"),
          Sketch.remove_segments(col("toks"), typedLit(dl), w).as("arr"),
          Sketch.remove_segments_text(col("text"), typedLit(dl), w)
            .getField("n_segments").as("nseg"),
          ceil(size(col("toks")) / lit(w.toDouble)).cast("long").as("nref"))
        .collect().foreach { r =>
          assert(r.getString(0) == r.getString(1), s"drops=$dl: $r")
          assert(r.getLong(2) == r.getLong(3), s"drops=$dl nseg: $r")
        }
    }
    // wrong-typed input fails analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Sketch.segment_hashes_text(col("toks"), w)).collect()
    }
  }

  test("fused MinHash signing: shingle_hash_stream_text signatures are " +
      "bit-identical to the distinct-shingle reference chain") {
    import spark.implicits._
    val docs = Tables(spark, sf("0.001")).documents
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "one"), (900003L, "one two"),
        (900004L, "  padded   spaces  "),
        (900005L, "dup dup dup dup dup dup"),
        (900006L, "único tökens ünïcode żółw here są"))
        .toDF("doc_id", "text"))
    val fused = Dedup.minHashSignatures(docs)
    val reference = docs.select(col("doc_id").as("id"),
      Dedup.minHashSignature(
        Dedup.shingles(Dedup.tokensOf(col("text")), 3), 64).as("sig"))
    val diff = fused.as("f").join(reference.as("r"), Seq("id"))
      .filter(!(col("f.sig") <=> col("r.sig")))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
    // null text stays null through both chains
    val n = Dedup.minHashSignatures(
      Seq((1L, null: String)).toDF("doc_id", "text")).head()
    assert(n.isNullAt(1))
  }

  test("fused tf kernels: token_tf_text / bigram_hash_tf_text are " +
      "byte-identical to the token-array forms") {
    import spark.implicits._
    import graft.functions.Sketch
    import graft.operators.TextAnalysis.tokens
    val docs = Tables(spark, sf("0.001")).documents
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "one"), (900003L, "a b a b a"),
        (900004L, "  padded   spaces  "),
        (900005L, "único tökens ünïcode żółw único"))
        .toDF("doc_id", "text"))
    val d1 = docs.select(
        Sketch.token_tf_text(col("text")).as("f"),
        Sketch.token_tf(tokens(col("text"))).as("r"))
      .filter(!(col("f") <=> col("r")))
    assert(d1.isEmpty, d1.limit(3).collect().mkString("\n"))
    val d2 = docs.select(
        Sketch.bigram_hash_tf_text(col("text")).as("f"),
        Sketch.bigram_hash_tf(tokens(col("text"))).as("r"))
      .filter(!(col("f") <=> col("r")))
    assert(d2.isEmpty, d2.limit(3).collect().mkString("\n"))
  }

  test("lm_gram_tf_text: the one-pass LM kernel agrees with token_tf_text " +
      "(unigrams, by FNV hash) and bigram_hash_tf_text (bigrams + w1 hash)") {
    import spark.implicits._
    import graft.functions.Sketch
    def fnv(s: String): Long = {
      var h = -3750763034362895579L
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 1099511628211L }
      h
    }
    val docs = Tables(spark, sf("0.001")).documents
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "one"), (900003L, "a b a b a"),
        (900004L, "  padded   spaces  "),
        (900005L, "único tökens ünïcode żółw único"))
        .toDF("doc_id", "text"))
    val rows = docs.select(
        Sketch.lm_gram_tf_text(col("text")).as("lm"),
        Sketch.token_tf_text(col("text")).as("u"),
        Sketch.bigram_hash_tf_text(col("text")).as("b"))
      .as[(Seq[(Int, Long, Long, Long)], Seq[(String, Long)],
        Seq[(Long, String, Long)])]
      .collect()
    rows.foreach { case (lm, u, b) =>
      val gotUni = lm.filter(_._1 == 1).map(r => r._2 -> r._4).toMap
      val expUni = u.groupBy(p => fnv(p._1)) // hash-merge like the kernel
        .map { case (h, ps) => h -> ps.map(_._2).sum }
      assert(gotUni == expUni, s"uni: $gotUni vs $expUni")
      lm.filter(_._1 == 1).foreach(r => assert(r._2 == r._3, r)) // w1h = gh
      val gotBi = lm.filter(_._1 == 2).map(r => r._2 -> (r._3, r._4)).toMap
      val expBi = b.map(p => p._1 -> (fnv(p._2), p._3)).toMap
      assert(gotBi == expBi, s"bi: $gotBi vs $expBi")
    }
  }

  test("fused winnowing: shingle_hash_distinct_text winnow fingerprints " +
      "are byte-identical to the distinct-shingle transform chain") {
    import spark.implicits._
    import graft.functions.Sketch
    val docs = Tables(spark, sf("0.001")).documents
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "one"), (900003L, "one two three"),
        (900004L, "a b a b a b a b a b"), // heavy duplicate shingles
        (900005L, "único tökens ünïcode żółw here są x y"))
        .toDF("doc_id", "text"))
    val diff = docs.select(
        sort_array(TextAnalysis.winnowingFingerprints(col("text"))).as("f"),
        sort_array(Sketch.winnow_min(
          transform(Dedup.shingles(
            graft.operators.TextAnalysis.tokens(col("text")), 3),
            x => xxhash64(x)), 4)).as("r"))
      .filter(!(col("f") <=> col("r")))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("fused span kernels: gram_hash_positions_text / " +
      "remove_covered_text are byte-identical to the token-array forms") {
    import spark.implicits._
    import graft.functions.Sketch
    val texts = Seq(
      "a b c d e f g h i j",
      "  a  b   c ", "", " ",
      "único tökens ünïcode żółw x y z w q r s t",
      (1 to 30).map(i => s"t$i").mkString(" "))
    val df = texts.toDF("text")
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
    val n = 4
    df.select(Sketch.gram_hash_positions_text(col("text"), n).as("fused"),
        Sketch.gram_hash_positions(col("toks"), n).as("arr"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
    val startsCases = Seq(Seq.empty[Int], Seq(0), Seq(2), Seq(0, 1, 5), Seq(3, 20))
    startsCases.foreach { st =>
      df.select(
          Sketch.remove_covered_text(col("text"), typedLit(st), n).as("r"),
          Sketch.remove_covered(col("toks"), typedLit(st), n).as("kept"),
          size(col("toks")).cast("long").as("ntok"))
        .collect().foreach { r =>
          val fused = r.getStruct(0)
          val kept = r.getSeq[String](1)
          assert(fused.getString(2) == kept.mkString(" "), s"starts=$st: $r")
          assert(fused.getLong(0) == r.getLong(2), s"starts=$st ntok: $r")
          assert(fused.getLong(1) == r.getLong(2) - kept.size, s"starts=$st nrem: $r")
        }
    }
  }

  test("semanticDedupAcross: a delivery pairs stored same-cluster rows " +
      "at tau, an over-cap cluster recovers an exact copy via served " +
      "star keepers exactly once, zero-norm never aborts, and served " +
      "bookkeeping is byte-identical to in-memory") {
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    // cluster 0: 200 DISTINCT near-x vectors (over a cap of 100);
    // cluster 1: one z vector — the deduped corpus index shape
    val corpus = ((0 until 200).map(i =>
      (i.toLong, Array(10f, i * 0.001f, 0f, 0f))) :+
      ((600L, Array(0f, 0f, 10f, 0f)))).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-semidx")
    try {
      Similarity.ivfAssign(corpus, cents)
        .withColumnRenamed("list_id", "cluster")
        .withColumnRenamed("vec_id", "id")
        .write.mode("overwrite").parquet(s"$tmp/index")
      val signed = spark.read.parquet(s"$tmp/index")
      signed.groupBy("cluster").agg(count(lit(1)).as("cn"))
        .filter(col("cn") > 100L).select("cluster")
        .write.mode("overwrite").parquet(s"$tmp/clusters")
      signed.select(xxhash64(col("v")).as("sh"), col("id").as("corpus_id"))
        .write.mode("overwrite").parquet(s"$tmp/keepers")
      val delivery = Seq(
        (1000L, Array(10f, 0.050f, 0f, 0f)), // exact copy of id 50
        (1001L, Array(0f, 0.1f, 10f, 0f)),   // near dup of 600
        (1002L, Array(0f, 10f, 0f, 0f)),     // novel direction
        (1003L, Array(0f, 0f, 0f, 0f))       // zero-norm
      ).toDF("vec_id", "embedding")
      def run(over: Option[org.apache.spark.sql.DataFrame],
          keep: Option[org.apache.spark.sql.DataFrame]) =
        Dedup.semanticDedupAcross(spark.read.parquet(s"$tmp/index"),
          cents, delivery, tau = 0.9, maxCluster = 100L,
          overCapClusters = over, starKeepers = keep)
      val served = run(Some(spark.read.parquet(s"$tmp/clusters")),
        Some(spark.read.parquet(s"$tmp/keepers")))
      val got = served.orderBy("corpus_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val inMem = run(None, None).orderBy("corpus_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == inMem.toSeq, s"served ${got.toSeq} vs $inMem")
      // the exact copy pairs its keeper ONCE (star path — cluster 0 is
      // pruned) at cosine ~1; the near dup pairs via the cluster join
      val by1000 = got.filter(_._2 == 1000L)
      assert(by1000.length == 1 && by1000.head._1 == 50L &&
        by1000.head._3 > 0.999, by1000.toSeq)
      assert(got.exists(p => p._1 == 600L && p._2 == 1001L && p._3 >= 0.9),
        got.toSeq)
      assert(!got.exists(p => p._2 == 1002L || p._2 == 1003L), got.toSeq)
      // plan pins: index and keepers are corpus-scale — scanned, never
      // broadcast builds; no pre-join aggregate over the index subtree
      // (the over-cap list is served state)
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def indexIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.exists(r =>
            r.toString.contains("graft-semidx") &&
              !r.toString.contains("/clusters"))
          case _ => false
        }
        case _ => false
      }
      val plan = served.queryExecution.optimizedPlan
      val broadcastOffenders = plan.collect { case j: Join => j }.filter { j =>
        (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) && indexIn(j.left)) ||
        (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) && indexIn(j.right))
      }
      assert(broadcastOffenders.isEmpty, broadcastOffenders.mkString("\n"))
      val aggOffenders = plan.collect {
        case a: Aggregate
            if indexIn(a.child) && !a.child.exists(_.isInstanceOf[Join]) => a
      }
      assert(aggOffenders.isEmpty, aggOffenders.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("randomized: connectedComponentsIncremental matches a " +
      "driver-side union-find oracle over seeded random graphs " +
      "(old/new edge splits, new nodes, self-edges)") {
    // independent oracle — path-compressed union-find with union-by-min,
    // so the distributed fold is checked against different mathematics
    def uf(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => (x, find(x))).toSet
    }
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { trial =>
      val n = 5 + rnd.nextInt(30)
      val oldEdges = Seq.fill(3 + rnd.nextInt(20))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val span = n + rnd.nextInt(12) // new edges may mint new node ids
      val newEdges = Seq.fill(1 + rnd.nextInt(20))(
        (rnd.nextInt(span).toLong, rnd.nextInt(span).toLong))
      if (oldEdges.nonEmpty && newEdges.nonEmpty) {
        val labels = Dedup.connectedComponents(
          oldEdges.toDF("doc_id_a", "doc_id_b"))
        val got = Dedup.connectedComponentsIncremental(labels,
            newEdges.toDF("doc_id_a", "doc_id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = uf(oldEdges ++ newEdges)
        assert(got == expected,
          s"trial $trial old=$oldEdges new=$newEdges\n" +
            s"got-only ${got -- expected}; exp-only ${expected -- got}")
      }
    }
  }

  test("randomized: postingsOverlapAcross matches a driver-side " +
      "union-df reference over seeded random postings (small key " +
      "alphabet forces df-boundary crossings)") {
    val rnd = new scala.util.Random(11)
    (1 to 10).foreach { trial =>
      val keys = ('A' to 'H').map(_.toString)
      def randSet(): Seq[String] = keys.filter(_ => rnd.nextBoolean())
      val corpus = (1L to (3 + rnd.nextInt(6)).toLong)
        .map(i => i -> randSet()).filter(_._2.nonEmpty)
      val delivery = (1001L to (1001 + rnd.nextInt(4)).toLong)
        .map(i => i -> randSet()).filter(_._2.nonEmpty)
      val maxDf = 2L + rnd.nextInt(3)
      if (corpus.nonEmpty && delivery.nonEmpty) {
        val cPost = corpus.flatMap { case (id, ks) => ks.map(id -> _) }
          .toDF("doc_id", "fph")
        val dPost = delivery.flatMap { case (id, ks) => ks.map(id -> _) }
          .toDF("doc_id", "fph")
        val got = Dedup.postingsOverlapAcross(cPost,
            Dedup.postingsDfs(cPost), dPost, maxDf = maxDf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        // reference: union df per key over plain collections
        val df = (corpus ++ delivery).flatMap(_._2)
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val rare = df.filter(_._2 <= maxDf).keySet
        val expected = (for {
          (c, cks) <- corpus; (d, dks) <- delivery
          shared = (cks.toSet & dks.toSet & rare).size.toLong
          if shared >= 1
        } yield (c, d, shared)).toSet
        assert(got == expected,
          s"trial $trial maxDf=$maxDf corpus=$corpus delivery=$delivery\n" +
            s"got-only ${got -- expected}; exp-only ${expected -- got}")
      }
    }
  }

  test("postingsOverlapAcross equals winnowingOverlapPairs over " +
      "corpus UNION delivery restricted to (corpus, delivery) pairs — " +
      "the q44b defining equivalence") {
    val corpus = Tables(spark, sf("0.001")).documents
      .select("doc_id", "text")
    val batch = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" v2")).as("text"))
    val across = Dedup.postingsOverlapAcross(
        Dedup.winnowPostings(corpus),
        Dedup.postingsDfs(Dedup.winnowPostings(corpus)),
        Dedup.winnowPostings(batch), maxDf = 100L)
      .filter(col("shared") >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reference = Dedup.winnowingOverlapPairs(
        corpus.unionByName(batch), maxDf = 100L, minShared = 3L)
      .filter(col("doc_id_a") < 1000000L && col("doc_id_b") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(across == reference,
      s"across-only ${across -- reference}; reference-only ${reference -- across}")
    assert(across.nonEmpty)
  }

  test("postingsOverlapAcross prunes on the UNION document frequency — " +
      "a key at corpus df = maxDf pushed over the cut by its delivery " +
      "occurrence stops pairing (stored-df-only would keep it)") {
    // maxDf = 2. Corpus: docs 1,2 share A,B,C (df 2 each = AT the
    // cut); doc 3 holds D alone. Delivery doc 1000 carries A,B,C,D:
    // union df of A/B/C becomes 3 > maxDf — those keys must not pair
    // (batch-over-union would drop them too); D's union df is 2 ≤
    // maxDf, so (3, 1000) pairs with shared = 1.
    val corpusPost = Seq(
      (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (2L, "C"),
      (3L, "D")).toDF("doc_id", "fph")
    val delPost = Seq((1000L, "A"), (1000L, "B"), (1000L, "C"),
      (1000L, "D")).toDF("doc_id", "fph")
    val got = Dedup.postingsOverlapAcross(corpusPost,
        Dedup.postingsDfs(corpusPost), delPost, maxDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((3L, 1000L, 1L)), got)
  }

  test("ngramJaccardAcross served from parquet postings/dfs/sizes " +
      "equals ngramJaccardPairs over the union restricted to delivery " +
      "pairs, scanning the index without broadcasting or aggregating it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-postidx")
    try {
      val corpus = Tables(spark, sf("0.001")).documents
        .select("doc_id", "text")
      val batch = corpus.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text"))
      Dedup.ngramPostings(corpus, n = 2)
        .write.mode("overwrite").parquet(s"$tmp/postings")
      val signed = spark.read.parquet(s"$tmp/postings")
      Dedup.postingsDfs(signed, "gram")
        .write.mode("overwrite").parquet(s"$tmp/dfs")
      Dedup.postingsSizes(signed)
        .write.mode("overwrite").parquet(s"$tmp/sizes")
      def served = Dedup.ngramJaccardAcross(
        spark.read.parquet(s"$tmp/postings"),
        spark.read.parquet(s"$tmp/dfs"),
        spark.read.parquet(s"$tmp/sizes"),
        Dedup.ngramPostings(batch, n = 2),
        threshold = 0.2, maxDf = 100L)
      val got = served
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val reference = Dedup.ngramJaccardPairs(
          corpus.unionByName(batch), n = 2, threshold = 0.2,
          maxDocFreq = 100L)
        .filter(col("doc_id_a") < 1000000L && col("doc_id_b") >= 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == reference,
        s"across-only ${got -- reference}; reference-only ${reference -- got}")
      assert(got.nonEmpty)
      // plan pins (the q102b/q43b discipline): every corpus-scale
      // index table — postings, dfs, sizes — may be SCANNED but never
      // a broadcast build, and never aggregated pre-join (dfs and
      // sizes ARE the sign-time aggregates, served as state)
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def indexIn(p: LogicalPlan): Boolean = p.exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths
            .exists(_.toString.contains("graft-postidx"))
          case _ => false
        }
        case _ => false
      }
      val plan = served.queryExecution.optimizedPlan
      val broadcastOffenders = plan.collect { case j: Join => j }.filter { j =>
        (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) && indexIn(j.left)) ||
        (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) && indexIn(j.right))
      }
      assert(broadcastOffenders.isEmpty, broadcastOffenders.mkString("\n"))
      val aggOffenders = plan.collect {
        case a: Aggregate
            if indexIn(a.child) && !a.child.exists(_.isInstanceOf[Join]) => a
      }
      assert(aggOffenders.isEmpty, aggOffenders.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("collect_capped / collect_capped_pair reject a cap their Int-indexed " +
      "buffers cannot bound") {
    import graft.functions.BoundedAgg
    val df = Seq((1L, 2L)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      df.agg(BoundedAgg.collect_capped(col("id"), Int.MaxValue.toLong))
        .collect()
    }
    intercept[IllegalArgumentException] {
      df.agg(BoundedAgg.collect_capped_pair(col("id"), col("v"),
        (Int.MaxValue - 8L) / 2)).collect()
    }
    // the largest caps each buffer can still bound are accepted
    val r = df.agg(
      size(BoundedAgg.collect_capped(col("id"), Int.MaxValue - 9L)),
      size(BoundedAgg.collect_capped_pair(col("id"), col("v"),
        (Int.MaxValue - 8L) / 2 - 1))).head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 1, r)
  }

  test("member_pairs ≡ the nested transform/filter explode as a multiset, " +
      "for id lists and (id, v) lists") {
    import graft.functions.BoundedAgg
    val L = (x: Long) => java.lang.Long.valueOf(x)
    val lists: Seq[Seq[java.lang.Long]] = Seq(
      Seq.empty, Seq(L(7)), Seq(L(5), L(1), L(3), L(2)),
      Seq(L(-4), L(9), L(-1), L(0)),
      Seq(L(3), L(3), L(1), L(3), L(2), L(1)),
      Seq(L(Long.MinValue), L(Long.MaxValue), L(0)),
      Seq(L(2), null, L(1), null, L(4)))
    val ids = lists.zipWithIndex.map { case (ms, k) => (k, ms) }
      .toDF("k", "ms")
    val lambda = ids.select(col("k"), explode(flatten(transform(col("ms"),
        a => transform(filter(col("ms"), b => b > a), b =>
          struct(a.as("ida"), b.as("idb")))))).as("p"))
      .select("k", "p.ida", "p.idb")
    val native = ids.select(col("k"),
      BoundedAgg.member_pairs(col("ms")).as(Seq("ida", "idb")))
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.groupBy(identity).map {
        case (r, rs) => r -> rs.size }
    assert(bag(native) == bag(lambda), (bag(native), bag(lambda)))
    assert(native.count() == 6 + 6 + 11 + 3 + 3)
    // (id, v) lists: the payload rides with its own id; null ids never
    // pair, null payloads pass through
    val pairs = lists.zipWithIndex.map { case (ms, k) =>
      (k, ms.map(i => (i, if (i == null || i % 3 == 0) null
        else L(i * 10 + k)))) }.toDF("k", "l")
      .select(col("k"), transform(col("l"), e =>
        struct(e("_1").as("id"), e("_2").as("v"))).as("ms"))
    val lambdaP = pairs.select(col("k"), explode(flatten(transform(
        col("ms"), a => transform(filter(col("ms"), b => b("id") > a("id")),
          b => struct(a("id").as("ida"), a("v").as("va"),
            b("id").as("idb"), b("v").as("vb")))))).as("p"))
      .select("k", "p.ida", "p.va", "p.idb", "p.vb")
    val nativeP = pairs.select(col("k"), BoundedAgg.member_pairs(col("ms"))
      .as(Seq("ida", "va", "idb", "vb")))
    assert(bag(nativeP) == bag(lambdaP), (bag(nativeP), bag(lambdaP)))
    // the list straight from the capped collects, as the operators use it
    val members = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .agg(BoundedAgg.collect_capped(col("id"), 5L).as("ms"),
        BoundedAgg.collect_capped_pair(col("id"), col("v"), 5L).as("mp"))
    assert(members.select(BoundedAgg.member_pairs(col("ms"))).count() == 3L)
    assert(members.select(BoundedAgg.member_pairs(col("mp"))
      .as(Seq("ida", "va", "idb", "vb"))).filter(col("va") === col("ida") * 10 &&
      col("vb") === col("idb") * 10).count() == 3L)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq("x")).toDF("ms").select(BoundedAgg.member_pairs(col("ms")))
        .collect()
    }
  }

  test("member_pairs streams: one 10^4-member list yields C(10^4, 2) " +
      "pairs without building them in one row") {
    import graft.functions.BoundedAgg
    val m = 10000L
    val members = spark.range(0L, m).repartition(4)
      .agg(BoundedAgg.collect_capped(col("id"), m).as("ms"))
    val n = members.select(BoundedAgg.member_pairs(col("ms"))
      .as(Seq("ida", "idb"))).filter(col("idb") > col("ida")).count()
    assert(n == m * (m - 1) / 2, n)
  }

  test("band_keys ≡ xxhash64(slice(sig, b*rows+1, rows), b) per band, " +
      "null and short signatures included") {
    import graft.functions.Sketch
    val rnd = new scala.util.Random(3)
    val sigs: Seq[Option[Seq[java.lang.Long]]] =
      (0 until 40).map(_ => Some(Seq.fill(64)(
        java.lang.Long.valueOf(rnd.nextLong())))) ++ Seq(
        None, Some(Seq.empty), Some(Seq.fill(9)(java.lang.Long.valueOf(5L))),
        Some(Seq[java.lang.Long](1L, null, 3L, null, 5L)))
    val df = sigs.zipWithIndex.map { case (s, i) => (i, s.orNull) }
      .toDF("i", "sig")
    Seq((16, 4), (8, 8), (3, 3)).foreach { case (bands, rows) =>
      val lambda = df.select(col("i"), transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))
        .as("k")).collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val native = df.select(col("i"), Sketch.band_keys(col("sig"), bands,
        rows).as("k")).collect().map(r => r.getInt(0) -> r.getSeq[Long](1))
        .toMap
      assert(native == lambda, s"bands=$bands rows=$rows")
      assert(native.values.forall(_.size == bands))
    }
  }

  test("sig_match_count ≡ size(filter(zip_with(a, b, _ === _), x => x)) " +
      "on equal, ragged and null-element arrays") {
    import graft.functions.Sketch
    val L = (x: Long) => java.lang.Long.valueOf(x)
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq(L(1), L(2), L(3)), Seq(L(1), L(2), L(3))),
      (Seq(L(1), L(2), L(3), L(4)), Seq(L(1), L(9))),
      (Seq(L(1)), Seq(L(1), L(2), L(3))),
      (Seq(L(1), null, L(3), null), Seq(L(1), null, L(4), L(5))),
      (Seq.empty, Seq.empty),
      (null, Seq(L(1))))
    val df = rows.toDF("a", "b")
    val got = df.select(Sketch.sig_match_count(col("a"), col("b")),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
        e => e))).collect().map(r => (r.get(0), r.get(1)))
    got.foreach { case (n, ref) => assert(n == ref, got.toSeq) }
    assert(got.take(4).map(_._1).toSeq == Seq(3, 1, 1, 1))
  }
}
