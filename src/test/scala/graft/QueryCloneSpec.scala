package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each repeated query fragment is written once. No run of 6
  * consecutive source lines carrying at least 120 characters (each line
  * trimmed) may appear twice in the `graft.queries` sources, within a
  * file or across files: a replayed recurrence that two oracles need
  * is one named fragment both refer to. Runs no Spark job.
  */
class QueryCloneSpec extends AnyFunSuite {

  private val window = 6
  private val minChars = 120

  test("no 6-line window repeats in the graft.queries sources") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"missing source dir $dir")
    val list = Files.list(dir)
    val files =
      try list.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .sortBy(_.toString)
      finally list.close()
    assert(files.nonEmpty, s"no Scala sources in $dir")
    // window text -> every file:line it starts at, in scan order
    val at = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    for (f <- files) {
      val lines = Files.readString(f).split("\n", -1)
      lines.sliding(window).zipWithIndex.foreach { case (w, i) =>
        if (w.map(_.trim.length).sum >= minChars) {
          val key = w.mkString("\n")
          at(key) = at.getOrElse(key, Vector.empty) :+ s"${f.getFileName}:${i + 1}"
        }
      }
    }
    val repeated = at.values.filter(_.size > 1).toSeq
    if (repeated.nonEmpty)
      fail(s"${repeated.size} repeated $window-line windows:\n" +
        repeated.map(_.mkString(" = ")).mkString("\n"))
  }
}
