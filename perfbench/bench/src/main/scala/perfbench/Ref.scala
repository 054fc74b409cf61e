package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The generator's reference values (`key=value` lines). */
final class Ref(kv: Map[String, String]) {
  def s(k: String): String = kv.getOrElse(k, sys.error(s"reference has no '$k'"))
  def d(k: String): Double = s(k).toDouble
  def l(k: String): Long = s(k).toLong
  def b(k: String): Boolean = s(k).toBoolean
  def get(k: String): Option[String] = kv.get(k)
  /** Keys under `prefix.`, with the prefix removed. */
  def under(prefix: String): Map[String, String] = kv.collect {
    case (k, v) if k.startsWith(prefix + ".") => k.drop(prefix.length + 1) -> v
  }
}

object Ref {
  def load(p: Path): Ref = new Ref(Files.readAllLines(p).asScala.filter(_.nonEmpty)
    .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
}
