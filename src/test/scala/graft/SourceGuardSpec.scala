package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.io.Source

/** Keeps the one-session-builder, register-at-the-boundary layout: a second
  * session block or an in-query function registration is a copy this
  * guard exists to stop.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val mainDir: File = {
    val root = Iterator.iterate(new File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "build.sbt").isFile)
      .getOrElse(fail("no build.sbt above the working directory"))
    new File(root, "src/main/scala")
  }

  private def sources(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private lazy val files: Seq[(File, Vector[String])] = sources(mainDir).map { f =>
    val src = Source.fromFile(f, "UTF-8")
    try f -> src.getLines().toVector finally src.close()
  }

  private val register = "GraftFunctions.register("

  test("src/main builds a SparkSession in exactly one place: GraftSession") {
    val sites = for ((f, ls) <- files; l <- ls if l.contains("SparkSession.builder(")) yield f.getName
    assert(sites == Seq("GraftSession.scala"))
  }

  test("graft_* functions register only at engine boundaries, never in a queries map") {
    val boundaries = Set("Tables.scala", "KMeans.scala", "IvfIncremental.scala",
      "MinHashIncremental.scala", "GramDfIncremental.scala", "TrainingDataPrep.scala",
      "StreamingAggs.scala", "StreamingPrep.scala", "PqIndex.scala", "IvfPq.scala",
      "VectorOps.scala", "TextOps.scala")
    val outside = for ((f, ls) <- files; l <- ls
      if l.contains(register) && !boundaries(f.getName)) yield f.getName
    assert(outside.isEmpty, s"register calls outside the engine boundaries: $outside")

    def indent(l: String) = l.takeWhile(_ == ' ').length
    val inQueries = for {
      (f, ls) <- files
      (start, i) <- ls.zipWithIndex if start.trim.matches("(override )?val queries\\b.*")
      // the map body: every line up to the next declaration at the map's indent
      body = ls.drop(i + 1).takeWhile(l => l.trim.isEmpty || indent(l) > indent(start) ||
        l.trim.startsWith(")"))
      l <- body if l.contains(register)
    } yield s"${f.getName}: ${l.trim}"
    assert(files.exists(_._2.exists(_.trim.startsWith("val queries"))))
    assert(inQueries.isEmpty, s"register calls inside a queries map: $inQueries")
  }
}
