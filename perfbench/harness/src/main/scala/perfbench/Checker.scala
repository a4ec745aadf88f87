package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Runs the benchmark's oracle comparison (oracle.py) on the checked
  * pass's outputs and reads back one verdict per operation. */
object Checker {
  def verdict(a: Args, checkDir: Path): Seq[(String, Boolean)] = {
    val log = checkDir.resolve("oracle.log").toFile
    val p = new ProcessBuilder("python3", a.checker, a.data, checkDir.toString)
      .redirectErrorStream(true).redirectOutput(log).start()
    val rc = p.waitFor()
    require(rc == 0, s"oracle comparison exited with $rc (see $log)")
    Files.readAllLines(checkDir.resolve("verdict.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t"); f(0) -> (f(1) == "OK")
      }
  }
}
