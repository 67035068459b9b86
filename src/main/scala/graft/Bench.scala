package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, timed with a full materialization into the noop
  * sink (count() would let Catalyst prune sorts/projections and
  * under-measure). One warm-up pass amortizes parquet footer reads and
  * codegen compilation out of the reported numbers; prints the single
  * JSON line the driver expects, then the same per-query medians again
  * as `queries_part` lines of at most [[PartChars]] chars each, mirrors
  * the full line to a sidecar file and prints a compact totals-only
  * line — redundant channels for consumers that keep only a tail of
  * stdout (the full 176-entry line outgrows a 2000-char tail).
  */
object Bench {
  /** The longest `queries_part` line. */
  val PartChars = 1500

  /** `{"metric":"queries_part",...}` lines that together carry every
    * `"name":seconds` entry of `medians` in order, each line at most
    * `maxChars` chars (an entry too long for one line alone still gets
    * a line of its own); `part` counts from 1 to `parts`. No entries,
    * no lines. */
  def queryParts(medians: Seq[(String, Double)], maxChars: Int = PartChars): Seq[String] = {
    // the line around the entries, with room for part numbers of up
    // to 6 digits
    val room = maxChars -
      """{"metric":"queries_part","part":000000,"parts":000000,"queries":{}}""".length
    val groups = scala.collection.mutable.ArrayBuffer.empty[StringBuilder]
    medians.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + f"$v%.3f"
      if (groups.isEmpty || groups.last.length + 1 + e.length > room)
        groups += new StringBuilder(e)
      else groups.last.append(',').append(e)
    }
    groups.toSeq.zipWithIndex.map { case (g, i) =>
      s"""{"metric":"queries_part","part":${i + 1},"parts":${groups.length},"queries":{$g}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Per-scale split size (VERDICT r4 "what's wrong" #1): the 4 MB
    // split that recovers intra-file parallelism on sf1's ~150 MB
    // single-file tables only multiplies task overhead on sf0.1's tiny
    // files (uniform ~2.5× bench inflation in BENCH_r04). Derive the
    // scale from the data itself: small corpus → default 128 MB splits.
    val dirBytes = Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    val defaultSplit = if (dirBytes < 200L * 1024 * 1024) "128m" else "4m"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // test data is ONE parquet file per table (21 MB events, ~150 MB
      // lineitem at sf1): the default 128 MB split serializes the scan
      // to 1-2 tasks while DuckDB reads row groups on 32 threads. A
      // 4 MB split recovers the intra-file parallelism a real deployment
      // gets from file count; splits align to row-group boundaries so
      // this only fans out, never re-reads.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT", defaultSplit))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_LOG_REPS=1: per-rep stderr diagnostics (time, live
    // cached-RDD storage, cumulative GC time) — the adjudication probe
    // for a median that disagrees with isolated reruns (BASELINE.md
    // §20/§27): contention shows as uniform inflation with flat
    // storage/GC; cache-storage thrash shows as storage growth or GC
    // spikes local to the slow lines.
    val logReps = sys.env.get("SPARK_GRAFT_LOG_REPS").contains("1")
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def once(name: String): Double = {
      val g0 = if (logReps) gcMillis() else 0L
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Graft.releaseCaches(spark)
        return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (logReps) {
        val st = spark.sparkContext.getRDDStorageInfo
        System.err.println(f"[rep] $name dt=$dt%.3f" +
          f" rdds=${st.length} memMB=${st.map(_.memSize).sum / 1e6}%.1f" +
          s" gcMs=${gcMillis() - g0}")
      }
      // release the query's ephemeral caches/checkpoint blocks so every
      // rep pays the true cache-build cost (and a 132-query run's
      // storage stays flat); the shared warm caches (tokenPairs) stay
      Graft.releaseCaches(spark)
      dt
    }

    // optional comma-separated filter for local single-query iteration
    // (driver leaves it unset → full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Median of SPARK_GRAFT_REPS timed runs per query in the one warm
    // JVM — the SAME protocol the DuckDB side always had (warm process,
    // median-of-3), isolating per-query marginal cost from the one-off
    // job/codegen floor. Default is 3 (not 1) since round 8: BENCH_r07
    // recorded a contiguous q57–q79 window up to 12× slower than r6
    // that did not reproduce in isolated reruns — transient co-tenant
    // contention during the driver's single timed pass. A median of 3
    // (plus the reported per-query min) makes one noisy window unable
    // to masquerade as a code regression.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach(once) // warm-up: codegen + parquet footers
    // failed reps (-1 sentinel) are excluded from median/min instead of
    // polluting them; a query with NO successful rep reports -1 and is
    // counted in "failed" so the driver sees it explicitly
    val results = names.map { n =>
      val ts = (1 to reps).map(_ => once(n)).filter(_ >= 0).sorted
      if (ts.isEmpty) n -> (-1.0, -1.0)
      else n -> (ts(ts.length / 2), ts.head)
    }

    val qs = results.map { case (k, (med, _)) => "\"" + k + "\":" + f"$med%.3f" }
      .mkString("{", ",", "}")
    val qmins = results.map { case (k, (_, mn)) => "\"" + k + "\":" + f"$mn%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failed = results.count(_._2._1 < 0)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qmins,"reps":$reps,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // The full line above IS the declared contract, but at 176 query
    // entries it is ~10 KB and a consumer keeping only a bounded tail of
    // stdout cannot parse it. Three redundant channels, all carrying the
    // SAME numbers measured by the SAME run — never a cached or
    // recomputed result:
    //  (a) the per-query medians again, as `queries_part` lines short
    //      enough for a line-bounded reader, joined back by name;
    //  (b) the identical line lands in a sidecar file
    //      (SPARK_GRAFT_BENCH_OUT, default plans/bench_out_c<cpus>.json,
    //      so runs on different core counts keep their own);
    //  (c) a compact summary line (totals only, no per-query map) prints
    //      last, small enough to survive any tail cut.
    queryParts(results.map { case (k, (med, _)) => k -> med }).foreach(println)
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"plans/bench_out_c$cpus.json")
    try {
      val out = java.nio.file.Paths.get(sidecar)
      Option(out.getParent)
        .foreach(p => { java.nio.file.Files.createDirectories(p); () })
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n":${results.length},"reps":$reps,"failed":$failed,"sf":"$sfDir","queries_file":"$sidecar"}""")
    spark.stop()
  }
}
