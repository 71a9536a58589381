package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet input-table read goes through [[Tables]]: a bare
  * `read.parquet(` infers the schema with a Spark job while the DataFrame
  * is being built. The allowlist holds only reads of files the engine
  * itself has just written.
  *
  * No source names a fixed path under `/tmp` either: two runs at once
  * would overwrite each other's files there. The store round trips in
  * `MatrixQueries` write under a directory made per JVM instead. */
class ReadPathSpec extends AnyFunSuite {

  private val resolver = "src/main/scala/graft/Tables.scala"

  /** (file, the allowed read) — engine-written paths only. */
  private val allowed = Set(
    // Verify's round trip of the answer it has just written
    "src/main/scala/graft/Verify.scala" -> """spark.read.parquet(s"$outDir/$name")""",
    // the ordered-replay gate's staged ranges, written by the gate itself
    "src/main/scala/graft/operators/StreamQueries.scala" -> """s.read.parquet(s"${g.stagedDir}/ranges")""")

  private val bareRead = """read\s*\.\s*parquet\s*\(""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("no read.parquet( in src/main outside the resolver and the engine-written allowlist") {
    val found = for {
      f <- sources(new File("src/main/scala"))
      rel = f.getPath if rel != resolver
      (line, no) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
      if bareRead.findFirstIn(line).isDefined && !allowed.exists { case (af, a) => af == rel && line.contains(a) }
    } yield s"$rel:${no + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("bare parquet reads outside graft.Tables:\n", "\n", ""))
    assert(sources(new File("src/main/scala")).size > 40, "scanned the wrong tree")
  }

  test("no string literal starting with /tmp in src/main") {
    val found = for {
      f <- sources(new File("src/main/scala"))
      (line, no) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
      if line.contains("\"/tmp")
    } yield s"${f.getPath}:${no + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("fixed /tmp paths in src/main:\n", "\n", ""))
  }

  test("every allowlisted read still exists") {
    allowed.foreach { case (f, a) =>
      val src = Source.fromFile(f, "UTF-8")
      try assert(src.mkString.contains(a), s"$f no longer holds $a: drop it from the allowlist")
      finally src.close()
    }
  }
}
