package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one measured window produced. */
final case class Window(
    endToEnd: Seq[(String, Double, String)],
    attempted: Long,
    failed: Long,
    notes: Seq[String] = Nil)

/** Timed batch passes, each started after a full collection. */
final case class Passes[T](ms: Vector[Double], windows: Vector[(Long, Long)],
    heaps: Vector[Long], gcMs: Long, results: Vector[T]) {
  def size: Int = ms.size

  /** A batch commits all its documents together, so each document's
    * latency is its pass's. */
  def endToEnd(docs: Int): Seq[(String, Double, String)] = Seq(
    ("docs_per_s", docs / (Stats.median(ms) / 1000.0), "docs/s"),
    ("latency_p50_ms", Stats.median(ms), "ms"),
    ("peak_heap_mb", Stats.median(heaps.map(_.toDouble)) / Jvm.MB, "MB"))

  def note(docs: Int): String =
    s"$size passes of $docs docs; pass ms ${ms.map(t => f"$t%.0f").mkString(" ")}"

  /** Per-pass JVM metrics and the Spark metrics of a traced window. */
  def layer(t: Traced): Seq[(String, Double, String)] =
    t.sparkTrace.metrics(size, windows) ++ Seq(
      ("jvm.gc_ms", gcMs.toDouble / size, "ms"),
      ("jvm.peak_heap_mb", heaps.max / Jvm.MB, "MB"))
}

object Passes {
  /** Run timed passes until `seconds` have passed (at least one);
    * `after` runs untimed after each. */
  def run[T](seconds: Double)(pass: Int => T)(after: Int => Unit): Passes[T] = {
    val ms = Vector.newBuilder[Double]
    val windows = Vector.newBuilder[(Long, Long)]
    val heaps = Vector.newBuilder[Long]
    val results = Vector.newBuilder[T]
    var gc = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      i += 1
      val floor = Jvm.collect()
      val g0 = Jvm.gcMs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      results += pass(i)
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      gc += Jvm.gcMs() - g0
      ms += (t1 - t0) / 1e6
      windows += ((w0, w1))
      Thread.sleep(20) // let the pass's GC notifications arrive
      heaps += Jvm.peakOldAfterGc(w0, w1, floor)
      after(i)
    }
    Passes(ms.result(), windows.result(), heaps.result(), gc, results.result())
  }
}

/** A benchmark workload: seeded inputs, per-session set-up including a
  * warm-up pass, a measured window, and output checks. */
trait Workload {
  /** Build the seeded inputs under `dir`; returns summary lines. */
  def generate(dir: Path): Seq[String]
  /** Digest of the generated inputs. */
  def inputDigest: String
  /** Session settings beyond [[Main.session]]'s. */
  def sessionConf: Map[String, String] = Map.empty
  /** Session-bound set-up (services, warm-up pass). */
  def setUp(spark: SparkSession): Unit
  def tearDown(): Unit = ()
  /** Run for `seconds`; with a tracer, record layer spans and return
    * the per-layer metrics too. */
  def measure(spark: SparkSession, seconds: Double, trace: Option[Traced]): Window
  /** Output checks after the measured windows; problems found. */
  def check(spark: SparkSession): Seq[String]
}

/** Tracing state of a traced window. */
final class Traced(spark: SparkSession) {
  val tracer = new Tracer
  val sparkTrace = new SparkTrace(spark)
  var layer: Seq[(String, Double, String)] = Nil
}

object Main {

  val Cpus: Int = Runtime.getRuntime.availableProcessors()
  val SetUps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, digests: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("digests")))
  }

  /** The per-layer metrics of the result line, in BENCHMARK.json order:
    * the layer counts and the Spark and JVM gauges every workload
    * measures. A layer a workload never calls reports a count of 0.
    * Layer self times are printed in the per-layer table and written to
    * the span file; they are not in the result line because a layer a
    * workload does not touch has no time to report. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.driver_gap_ms" -> "ms", "spark.exchanges" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.peak_heap_mb" -> "MB",
    "sources.tokens" -> "count", "pipeline.nodes" -> "count", "sinks.bytes_out" -> "bytes",
    "service.spark_jobs_per_request" -> "count",
    "operators.dedup.candidate_pairs" -> "count", "operators.dedup.verified_pairs" -> "count",
    "operators.dedup.verify_ratio" -> "ratio", "operators.dedup.max_bucket" -> "count",
    "operators.dedup.components" -> "count")

  def workload(name: String, seed: Long, recorded: Digests.Table): Workload = name match {
    case "corpus_convert" => new Convert(seed)
    case "service_mixed" => new Service(seed)
    case "corpus_dedup" => new DedupBench(seed, recorded.get((name, seed.toString, "keepers")))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: Path, conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      // inputs are a few MB: without a small open cost Spark packs a
      // whole input table into one task and parsing runs on one core
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toAbsolutePath.toString)
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Batch workloads run a corpus far smaller than a real one; without
    * this, adaptive execution coalesces its few-MB document shuffle into
    * one partition and the per-document fold runs on one core, unlike
    * at full scale. */
  val BatchConf: Map[String, String] = Map(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k")

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Exits explicitly: a failure must end the run with a non-zero code
    * even while a service thread or Spark thread is still alive. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    val work = a.work.resolve(a.workload)
    deleteTree(work)
    Files.createDirectories(work)
    val recorded = Digests.load(a.digests)
    val w = workload(a.workload, a.seed, recorded)

    // inputs (not part of set-up): generate, summarize, pin
    println(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds} trace ${if (a.trace) 1 else 0} cpus $Cpus")
    w.generate(work.resolve("inputs")).foreach(l => println(s"input: $l"))
    val digestProblems = Digests.check(recorded, a.workload, a.seed, w.inputDigest)
    println(s"input: digest ${w.inputDigest} " +
      recorded.get((a.workload, a.seed.toString, "input")).fold("(seed not recorded; canary checked)")(_ => "(recorded)"))

    // set-up, several times; the last session is the measured one
    var spark: SparkSession = null
    val setUpS = (1 to SetUps).map { _ =>
      if (spark != null) { w.tearDown(); stop(spark) }
      val t0 = System.nanoTime()
      spark = session(work, w.sessionConf)
      w.setUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"setup: ${setUpS.map(s => f"$s%.3f").mkString(" ")} s (median reported)")
    val setupMetric = ("setup_s", Stats.median(setUpS), "s")

    val (metrics, attempted, failed, notes) =
      if (!a.trace) {
        val win = w.measure(spark, a.seconds, None)
        (setupMetric +: win.endToEnd, win.attempted, win.failed, win.notes)
      } else {
        // untraced then traced, half the window each: the difference is
        // the tracing overhead
        val plain = w.measure(spark, a.seconds / 2.0, None)
        val t = new Traced(spark)
        val traced = w.measure(spark, a.seconds / 2.0, Some(t))
        t.sparkTrace.close()
        t.tracer.writeJsonl(work.resolve("spans.jsonl"))
        println("trace: per-layer table (spans recorded by the benchmark around layer calls)")
        print(Trace.table(t.tracer.all, t.layer))
        plain.endToEnd.zip(traced.endToEnd).foreach { case ((n, u, unit), (_, v, _)) =>
          println(f"trace: overhead $n%-16s untraced ${Stats.fmt(u)}%14s traced ${Stats.fmt(v)}%14s $unit " +
            f"(${(v - u) / u * 100}%+.1f%%)")
        }
        val measured = t.layer.map(m => m._1 -> m._2).toMap
        (PerLayer.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) },
          plain.attempted + traced.attempted, plain.failed + traced.failed,
          plain.notes ++ traced.notes)
      }
    notes.foreach(n => println(s"note: $n"))

    val problems = digestProblems ++ w.check(spark)
    problems.foreach(p => println(s"check FAILED: $p"))
    if (problems.isEmpty) println("check: all output checks passed")
    w.tearDown()
    stop(spark)
    println(f"failed_share ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f fraction " +
      s"($failed of $attempted)")
    metrics.foreach { case (n, v, u) => println(f"metric $n%-40s ${Stats.fmt(v)}%18s $u") }
    println(Stats.resultJson(problems.isEmpty, math.max(1L, attempted), failed, metrics))
  }
}

/** Recorded input digests (and dedup keeper digests) per seed, and the
  * fixed-seed canary that every run checks whatever its seed. */
object Digests {
  type Table = Map[(String, String, String), String]

  /** Lines of `workload seed kind digest`; `#` starts a comment. */
  def load(p: Path): Table =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(w, s, k, d) => (w, s, k) -> d }.toMap

  /** Canary inputs: small, fixed seed, one per generator. */
  def canary: Seq[(String, String)] = Seq(
    "papers" -> Gen.digestDocs(Gen.papers(0L, 6, maxPages = 4)),
    "dedup" -> Gen.digestTexts(Gen.dedupCorpus(0L, 400, 40, 30).texts))

  def check(t: Table, workload: String, seed: Long, digest: String): Seq[String] = {
    val canaryProblems = canary.flatMap { case (k, d) =>
      t.get(("canary", "0", k)) match {
        case Some(r) if r != d => Some(s"input: canary $k digest $d differs from the recorded $r")
        case None => Some(s"input: no recorded canary digest for $k")
        case _ => None
      }
    }
    val own = t.get((workload, seed.toString, "input")).filter(_ != digest)
      .map(r => s"input: digest $digest differs from the recorded $r")
    canaryProblems ++ own
  }
}
