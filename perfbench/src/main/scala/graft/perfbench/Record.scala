package graft.perfbench

import java.nio.file.Paths

/** Prints the recorded-digest table for the given seeds:
  * `sbt "runMain graft.perfbench.Record <work dir> <seed>..."`, or
  * `python3 perfbench/run.py --record <seed>...`. Each line is
  * `workload seed kind digest`. */
object Record {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).resolve("record")
    Main.deleteTree(work)
    val seeds = args.drop(1).map(_.toLong)
    Digests.canary.foreach { case (k, d) => println(s"canary 0 $k $d") }
    for (s <- seeds; name <- Seq("corpus_convert", "service_mixed", "corpus_dedup")) {
      val w = Main.workload(name, s, Map.empty)
      w.generate(work.resolve(s"$name-$s"))
      println(s"$name $s input ${w.inputDigest}")
      w match {
        case d: DedupBench =>
          val spark = Main.session(work, d.sessionConf)
          try {
            d.measure(spark, 0.0, None)
            d.keeperDigest.foreach(k => println(s"$name $s keepers $k"))
          } finally Main.stop(spark)
        case _ => ()
      }
    }
    Main.deleteTree(work)
  }
}
