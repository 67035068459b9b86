package graft

import org.apache.spark.sql.functions._

/** Structural checks for the declared query surface at sf0.001 — the
  * value-level correctness gate is the driver's DuckDB oracle compare
  * (tools/check_oracle.py runs the same compare locally at sf0.01).
  */
class QueriesSpec extends SparkSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracled query has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries impl: $missing")
  }

  test("every query runs at sf0.001 and releases its caches to baseline") {
    // cache-lifecycle gate (VERDICT r7 #1): after each query's action
    // plus a full releaseCaches, the context must hold no persistent
    // RDDs beyond what existed before the query — persisted frames,
    // pipeline checkpoint blocks, and the dedup loop's per-round
    // checkpoints all have to go through the registry to pass this.
    val sc = spark.sparkContext
    Graft.releaseCaches(spark, includeShared = true)
    val baseline = sc.getPersistentRDDs.keySet
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val run =
        try { fn(spark, sf("0.001")).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      Graft.releaseCaches(spark, includeShared = true)
      val leaked = sc.getPersistentRDDs.keySet -- baseline
      run.orElse(
        if (leaked.nonEmpty) Some(s"$name: leaked persistent RDDs $leaked")
        else None)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("q12 agg values match hand-computed slice") {
    val li = Tables(spark, sf("0.001")).lineitem
    val expectedN = li.filter(col("l_returnflag") === "A" && col("l_linestatus") === "F").count()
    val got = graft.queries.Relational.q12(spark, sf("0.001"))
      .filter(col("l_returnflag") === "A" && col("l_linestatus") === "F")
      .select("n").collect()
    assert(got.length == 1 && got(0).getLong(0) == expectedN)
  }

  test("q62 curation: decisions are non-degenerate and reasons partition keep") {
    val dec = graft.queries.ScaleOps.q62(spark, sf("0.001"))
    val byReason = dec.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // synthetic corpus has all language buckets + a length spread:
    // both keeps and at least two distinct drop reasons must appear
    assert(byReason.getOrElse("ok", 0L) > 0, byReason)
    assert((byReason.keySet - "ok").size >= 2, byReason)
    // keep == (reason == 'ok') exactly
    assert(dec.filter((col("reason") === "ok") =!= col("keep")).count() == 0)
  }

  test("q97 temperature flattening: keep rate decreases with source size") {
    import org.apache.spark.sql.functions._
    val rates = SparkEntry.queries("q97_temperature_mix")(spark, sf("0.001"))
      .groupBy("source").agg(first("rate").as("rate"),
        count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val toks = Tables(spark, sf("0.001")).documents
      .groupBy("source")
      .agg(sum(size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long")).as("sz"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=0.5: rate ∝ 1/sqrt(toks) — ordering by size must invert
    // the ordering by rate wherever rates are uncapped (< 1.0)
    val uncapped = rates.filter(_._2 < 1.0).keys.toSeq
    if (uncapped.size >= 2) {
      val bySize = uncapped.sortBy(toks)
      val byRate = uncapped.sortBy(s => -rates(s))
      assert(bySize == byRate, s"rates=$rates toks=$toks")
    }
    assert(rates.nonEmpty)
  }

  test("q10 as-of: every matched event has last_od <= event date") {
    val t = Tables(spark, sf("0.001"))
    val res = graft.queries.Relational.q10(spark, sf("0.001"))
    val joined = res.join(t.events.select(col("event_id"), to_date(col("ts")).as("ed")), "event_id")
    assert(joined.filter(col("last_od") > col("ed")).count() == 0)
    assert(res.count() > 0)
    // spot-check one event against a brute-force range-join computation
    val brute = t.events.select(col("event_id"), col("user_id"), to_date(col("ts")).as("ed"))
      .join(t.orders.select(col("o_custkey"), to_date(col("o_orderdate")).as("od")),
        col("o_custkey") === col("user_id") && col("od") <= col("ed"))
      .groupBy("event_id").agg(max("od").as("last_od"))
    assert(res.except(brute).count() == 0 && brute.except(res).count() == 0)
  }

  test("stateKeyDigest fingerprints PART FILES of a directory corpus — " +
      "an in-place regeneration within the same mtime second still " +
      "invalidates the served index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-digest").toFile
    try {
      val table = new java.io.File(tmp, "documents.parquet")
      assert(table.mkdirs())
      val part = new java.io.File(table, "part-00000.parquet")
      java.nio.file.Files.write(part.toPath, "aaaa".getBytes("UTF-8"))
      val before = graft.queries.ScaleOps.stateKeyDigest(tmp.getPath)
      // regenerate in place: same byte COUNT, same directory entry —
      // freeze every mtime (dir and part) to the pre-change values so
      // only the part listing could tell the difference, then change
      // the part's SIZE (the content signal a landing zone actually has)
      val dirM = table.lastModified
      val partM = part.lastModified
      java.nio.file.Files.write(part.toPath, "aaaaaa".getBytes("UTF-8"))
      part.setLastModified(partM); table.setLastModified(dirM)
      val after = graft.queries.ScaleOps.stateKeyDigest(tmp.getPath)
      assert(before != after, "part-file size change must change the digest")
      // stable when nothing changed
      assert(after == graft.queries.ScaleOps.stateKeyDigest(tmp.getPath))
      // single-FILE corpora (the testdata layout) still digest by
      // (size, mtime) of the file itself
      val single = java.nio.file.Files.createTempDirectory("graft-digest2").toFile
      try {
        java.nio.file.Files.write(
          new java.io.File(single, "documents.parquet").toPath,
          "bbbb".getBytes("UTF-8"))
        val d1 = graft.queries.ScaleOps.stateKeyDigest(single.getPath)
        assert(d1 == graft.queries.ScaleOps.stateKeyDigest(single.getPath))
        assert(d1 != after)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(single)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("servedState: two builders of one key at once both read the complete " +
      "state, and one directory remains") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import graft.queries.ScaleOps
    val root = java.nio.file.Files.createTempDirectory("graft-served").toFile
    val pool = Executors.newFixedThreadPool(2)
    try {
      val bothBuilding = new CountDownLatch(2)
      val builds = new java.util.concurrent.atomic.AtomicInteger
      def build(dir: java.io.File): Unit = {
        builds.incrementAndGet()
        bothBuilding.countDown()
        assert(bothBuilding.await(30, TimeUnit.SECONDS))
        (0 until 40).foreach { i =>
          java.nio.file.Files.write(new java.io.File(dir, s"part-$i").toPath,
            s"$i".getBytes("UTF-8"))
          Thread.sleep(1)
        }
      }
      def contents(dir: java.io.File): Map[String, String] =
        dir.listFiles().map(f => f.getName ->
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toMap
      val expected = (0 until 40).map(i => s"part-$i" -> s"$i").toMap
      val runs = (0 until 2).map { _ =>
        pool.submit(new Callable[(java.io.File, Map[String, String])] {
          def call() = {
            val dir = ScaleOps.servedState("state-key", root)(build)
            (dir, contents(dir))
          }
        })
      }.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 2, "both builders ran at once")
      runs.foreach { case (dir, got) =>
        assert(dir == new java.io.File(root, "state-key"))
        assert(got == expected)
      }
      assert(root.list().toSeq == Seq("state-key"), "private copies left behind")
      // a published key is served without another build
      ScaleOps.servedState("state-key", root)(_ => fail("rebuilt a published key"))
      // a failed build publishes nothing and leaves no private copy
      intercept[IllegalStateException] {
        ScaleOps.servedState("other-key", root) { dir =>
          java.nio.file.Files.write(new java.io.File(dir, "half").toPath, Array[Byte](1))
          throw new IllegalStateException("build failed")
        }
      }
      assert(root.list().toSeq == Seq("state-key"))
    } finally {
      pool.shutdownNow()
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }
}
