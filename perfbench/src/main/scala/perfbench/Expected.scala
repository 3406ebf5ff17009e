package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The committed fingerprints: one `<row>\t<fingerprint>` per line. */
object Expected {
  def load(p: Path): Map[String, Fingerprint] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, v) = l.split("\t")
        k -> Fingerprint.parse(v)
      }.toMap
}
