package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected query fingerprints over the benchmark's generated tables,
  * recorded from a commit whose answers were checked. A query listed
  * as nondeterministic (with its reason) is held to its row count
  * only. A query with no entry fails: it is never silently skipped. */
final class Expected(fingerprints: Map[String, String], nondeterministic: Map[String, String]) {
  def check(name: String, got: Fingerprint.Result): Boolean =
    (fingerprints.get(name), nondeterministic.contains(name)) match {
      case (Some(want), true)  => want.takeWhile(_ != ':') == got.rows.toString
      case (Some(want), false) => want == got.toString
      case (None, _) =>
        System.err.println(s"[perfbench] no expected fingerprint for $name (got $got)")
        false
    }
}

object Expected {
  private def tsv(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t", 2); f(0) -> f(1) }.toMap

  def load(dir: String): Expected =
    new Expected(tsv(s"$dir/fingerprints.tsv"), tsv(s"$dir/nondeterministic.tsv"))
}
