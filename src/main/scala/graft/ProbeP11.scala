package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Optimization-round probe: per-stage wall clock of the p11 CRF header
  * line (features → Viterbi label → BIO spans → report). */
object ProbeP11 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val dirBytes = Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    val defaultSplit = if (dirBytes < 200L * 1024 * 1024) "128m" else "4m"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe-p11")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT", defaultSplit))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    (0 until reps).foreach { rep =>
      System.err.println(s"[probe] === rep $rep ===")
      t("TOTAL") {
        import graft.pipeline.{BioSpans, CrfLabeler}
        val toks = t("tokenTable (hub)") {
          val x = graft.queries.PipelineOps.tokenTable(spark, sfDir)
          System.err.println(s"[probe] token rows=${x.count()}")
          x
        }
        t("hub noop") { noop(toks.toDF()) }
        val lines = graft.pipeline.HeaderFeatures.dataLines(toks)
          .withColumnRenamed("data_line", "features")
        t("dataLines minus concat noop") {
          noop(lines.drop("features"))
        }
        t("dataLines noop") { noop(lines) }
        if (sys.env.contains("PROBE_METRICS")) {
          val qe = lines.queryExecution
          t("rdd pass for metrics") {
            qe.executedPlan.execute().foreachPartition(
              (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
                while (it.hasNext) { it.next(); () })
          }
          def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
            val ms = p.metrics.map { case (k, m) => s"$k=${m.value}" }
              .mkString(" ")
            System.err.println("  " * d + s"[m] ${p.getClass.getSimpleName} $ms")
            p.children.foreach(walk(_, d + 1))
            p match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(a.executedPlan, d + 1)
              case _ =>
            }
          }
          walk(qe.executedPlan, 0)
        }
        val modelFile = new java.io.File(
          new java.io.File(graft.queries.ScaleOps.servedRoot,
            "graft-p11-crf-" + graft.queries.ScaleOps.stateKeyDigest(sfDir)),
          "model.wapiti.gz")
        val labeled = t("label construct") {
          CrfLabeler.fromFile(modelFile.getPath).label(lines)
        }
        t("label noop") { noop(labeled) }
        val spans = BioSpans.spans(labeled)
        t("spans+agg noop") {
          noop(spans.groupBy("doc_id")
            .agg(sum(when(col("tag") === "<title>", 1).otherwise(0)).as("n_title_spans"),
              count(lit(1)).as("n_spans")))
        }
      }
      Graft.releaseCaches(spark)
    }
    spark.stop()
  }
}
