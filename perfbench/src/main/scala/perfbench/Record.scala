package perfbench

import java.nio.file.{Files, Paths}
import graft.engine.Memos

/** Writes the committed fingerprint set: the warm-up table and every
  * registry row of `olap_warm` and `state_build_serve`, each run twice
  * (cold, then warm) in a fresh session; a row whose two fingerprints
  * differ is refused.
  *
  * {{{ perfbench.Record <fixture dir> <work dir> <output file> }}} */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(data, work, out) = argv
    val spark = Main.session(Paths.get(work).toAbsolutePath)
    Memos.clearAll()
    val q = graft.SparkEntry.queries
    val rows = Seq(Registry.OlapWarm, Registry.StateBuildServe).flatMap(_.rows)
    val fps = (Main.WarmUpKey -> Main.warmUp(spark, data)) +: rows.map { r =>
      val a = Fingerprint.of(q(r)(spark, data))
      val b = Fingerprint.of(q(r)(spark, data))
      require(a == b, s"$r: cold fingerprint $a differs from warm $b")
      r -> a
    }
    spark.stop()
    val body = fps.map { case (k, v) => s"$k\t$v" }.mkString("\n")
    Files.write(Paths.get(out), (s"# row\tfingerprint (rows:h1:h2) on the committed fixture\n$body\n").getBytes("UTF-8"))
  }
}
