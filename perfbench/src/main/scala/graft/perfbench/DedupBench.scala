package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheRegistry
import graft.operators.Dedup

/** corpus_dedup: a seeded text corpus with planted near-duplicate
  * clusters of heavy-tailed size, one of them hot, deduplicated with
  * `Dedup.minHashLshPairs` (finite `maxBucket`) →
  * `Dedup.connectedComponents` → one keeper per component → write. The
  * work is the band exchange and member-list pair explode under bucket
  * skew, plus shuffle and GC; sources, pipeline, sinks other than the
  * write, and the service are never touched. */
final class DedupBench(seed: Long, recordedKeepers: Option[String]) extends Workload {
  import DedupBench._

  private var corpus: Gen.DedupCorpus = _
  private var input: String = _
  private var outRoot: Path = _
  private val passDigests = scala.collection.mutable.ArrayBuffer.empty[String]

  def generate(dir: Path): Seq[String] = {
    corpus = Gen.dedupCorpus(seed, NumDocs, HotCluster, WordsPerDoc)
    input = write(corpus, dir.resolve("corpus"))
    outRoot = dir.getParent.resolve("out")
    val hist = corpus.clusterSizes.groupBy(s =>
      if (s <= 2) "2" else if (s <= 4) "3-4" else if (s <= 8) "5-8" else if (s <= 16) "9-16"
      else if (s <= 64) "17-64" else "65+").map { case (k, v) => k -> v.size }
    Seq(
      s"docs ${corpus.texts.size}, words per doc $WordsPerDoc, " +
        s"tokens ${corpus.texts.map(_.count(_ == ' ') + 1L).sum}, bytes ${corpus.texts.map(_.length.toLong).sum}",
      s"planted clusters ${corpus.clusterSizes.size} covering ${corpus.cluster.count(_ >= 0)} docs, " +
        s"hot cluster $HotCluster, planted pairs ${corpus.plantedPairs}",
      "cluster-size histogram " + Seq("2", "3-4", "5-8", "9-16", "17-64", "65+")
        .map(k => s"$k:${hist.getOrElse(k, 0)}").mkString(" "),
      s"maxBucket $MaxBucket, recall floor $RecallFloor")
  }

  override def sessionConf: Map[String, String] = Main.BatchConf

  def inputDigest: String = Gen.digestTexts(corpus.texts)

  /** The warm-up pass is a full pass (see [[Convert.setUp]]). */
  def setUp(spark: SparkSession): Unit = pass(spark, input, outRoot.resolve("warm"), None, 0L)

  def measure(spark: SparkSession, seconds: Double, trace: Option[Traced]): Window = {
    trace.foreach(_.sparkTrace.reset())
    val n = corpus.texts.size
    def out(i: Int) = outRoot.resolve(s"pass-$i-${trace.isDefined}")
    val p = Passes.run(seconds)(i => pass(spark, input, out(i), trace, i.toLong)) { i =>
      passDigests += Checks.keeperDigest(readKeepers(spark, out(i)))
      Main.deleteTree(out(i))
    }
    trace.foreach { t =>
      val (cands, maxB) = bandStats(spark, input)
      val verified = Stats.median(p.results.map(_.verified.toDouble))
      t.layer = p.layer(t) ++ Seq(
        ("operators.dedup.candidate_pairs", cands.toDouble, "count"),
        ("operators.dedup.verified_pairs", verified, "count"),
        ("operators.dedup.verify_ratio", if (cands == 0) 0.0 else verified / cands, "ratio"),
        ("operators.dedup.max_bucket", maxB.toDouble, "count"),
        ("operators.dedup.components", Stats.median(p.results.map(_.components.toDouble)), "count"),
        ("sinks.bytes_out", Stats.median(p.results.map(_.bytesOut.toDouble)), "bytes")) ++
        Trace.selfMsPerUnit(t.tracer.all, p.size, SpanMetrics)
    }
    Window(p.endToEnd(n), n.toLong * p.size, 0L, Seq(p.note(n)))
  }

  def check(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    // one more (untimed) pass keeps the component labels for recall
    val docs = DedupBench.docs(spark, input)
    val labels = Dedup.connectedComponents(
      Dedup.minHashLshPairs(docs, maxBucket = MaxBucket).select("doc_id_a", "doc_id_b"))
      .as[(Long, Long)].collect().toMap
    CacheRegistry.release(spark)
    val comp = corpus.ids.map(id => labels.getOrElse(id, id))
    val recall = Checks.plantedRecall(corpus.cluster, comp)
    println(f"check: planted-pair recall $recall%.4f (floor $RecallFloor)")
    Checks.dedupOutputs(passDigests.toSeq, recordedKeepers, recall, RecallFloor)
  }

  def keeperDigest: Option[String] = passDigests.headOption
}

object DedupBench {
  val NumDocs = 2000
  val HotCluster = 240
  val WordsPerDoc = 60
  val MaxBucket = 2000L
  val RecallFloor = 0.95

  final case class PassCounts(verified: Long, components: Long, bytesOut: Long)

  val SpanMetrics: Seq[(String, String)] = Seq(
    "operators.dedup.signature" -> "operators.dedup.signature_ms",
    "operators.dedup.candidates" -> "operators.dedup.candidates_ms",
    "operators.dedup.components" -> "operators.dedup.components_ms",
    "sinks.write" -> "sinks.write_ms")

  /** Tab-separated `doc_id, text` lines, one file per core. */
  private def write(c: Gen.DedupCorpus, dir: Path): String = {
    java.nio.file.Files.createDirectories(dir)
    c.ids.zip(c.texts).grouped((c.texts.size + Main.Cpus - 1) / Main.Cpus).zipWithIndex.foreach {
      case (rows, i) =>
        java.nio.file.Files.write(dir.resolve(s"part-$i.tsv"),
          rows.map { case (id, t) => s"$id\t$t\n" }.mkString.getBytes("UTF-8"))
    }
    dir.toString
  }

  private def docs(spark: SparkSession, input: String): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").option("sep", "\t").csv(input)

  private def readKeepers(spark: SparkSession, out: Path): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(out.toString).as[Long].collect().toSeq
  }

  /** One pass. Traced, each operator call is materialized inside its own
    * span; `minHashSignatures` is called once more on its own so the
    * signing pass has a time of its own (`minHashLshPairs` signs
    * internally as well). */
  def pass(spark: SparkSession, input: String, out: Path, trace: Option[Traced],
      group: Long): PassCounts = {
    def span[T](name: String)(body: => T): T =
      trace.fold(body)(_.tracer.span(name, group)(body))
    def cp(df: DataFrame): DataFrame = if (trace.isDefined) df.localCheckpoint() else df
    try span("pass") {
      val docs = DedupBench.docs(spark, input)
      if (trace.isDefined)
        span("operators.dedup.signature")(cp(Dedup.minHashSignatures(docs)))
      val pairs = span("operators.dedup.candidates") {
        cp(Dedup.minHashLshPairs(docs, maxBucket = MaxBucket))
      }
      val labels = span("operators.dedup.components") {
        cp(Dedup.connectedComponents(pairs.select("doc_id_a", "doc_id_b")))
      }
      span("sinks.write") {
        keepers(docs, labels).write.mode(SaveMode.Overwrite).parquet(out.toString)
      }
      if (trace.isEmpty) PassCounts(-1, -1, -1)
      else PassCounts(pairs.count(), labels.select("comp").distinct().count(),
        Convert.dirBytes(out))
    } finally CacheRegistry.release(spark)
  }

  /** Documents in no component, plus each component's label (its
    * minimum id): one keeper per near-duplicate group. */
  def keepers(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id")).join(labels, col("doc_id") === col("node"), "left_anti")
      .union(labels.select(col("comp").as("doc_id")).distinct())

  /** LSH band buckets of the signature table, counted by the benchmark
    * (16 bands of 4 rows, the operator's defaults): distinct pairs that
    * share a bucket of at most `MaxBucket` members — the candidates the
    * verify step has to check — and the largest bucket. */
  def bandStats(spark: SparkSession, input: String): (Long, Long) = {
    import spark.implicits._
    val sig = Dedup.minHashSignatures(docs(spark, input))
    val buckets = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(15)), b => slice(col("sig"), b * 4 + 1, lit(4))))
          .as(Seq("band", "key")))
      .groupBy("band", "key").agg(collect_list(col("id")).as("ms"))
      .select(col("ms")).as[Seq[Long]].localCheckpoint()
    val maxB = buckets.map(_.size.toLong).reduce((a, b) => math.max(a, b))
    val cands = buckets.filter(ms => ms.size >= 2 && ms.size <= MaxBucket).flatMap { ms =>
      val s = ms.sorted
      for (i <- s.indices.iterator; j <- (i + 1 until s.size).iterator) yield (s(i) << 32) | s(j)
    }.distinct().count()
    (cands, maxB)
  }
}
