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
  * `MatrixQueries` write under a directory made per JVM instead.
  *
  * And no source reads a `graft.*` system property outside a short
  * allowlist of deployment settings: a switch nothing sets is code that
  * never runs. */
class ReadPathSpec extends AnyFunSuite {

  private val resolver = "src/main/scala/graft/Tables.scala"

  /** (file, the allowed read) — engine-written paths only. */
  private val allowed = Set(
    // Verify's round trip of the answer it has just written
    "src/main/scala/graft/Verify.scala" -> """spark.read.parquet(s"$outDir/$name")""")

  /** The `graft.*` system properties src/main may read: the stream
    * scratch root and the expression block size. */
  private val knobs = Set("graft.stream.tmpdir", "graft.block.size")

  private val bareRead = """read\s*\.\s*parquet\s*\(""".r
  private val propRead =
    """(?:sys\.props|System\.getPropert(?:y|ies))[\w.]*\s*\(\s*"(graft\.[\w.]+)"""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def lines(f: File): List[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("no read.parquet( in src/main outside the resolver and the engine-written allowlist") {
    val found = for {
      f <- sources(new File("src/main/scala"))
      rel = f.getPath if rel != resolver
      (line, no) <- lines(f).zipWithIndex
      if bareRead.findFirstIn(line).isDefined && !allowed.exists { case (af, a) => af == rel && line.contains(a) }
    } yield s"$rel:${no + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("bare parquet reads outside graft.Tables:\n", "\n", ""))
    assert(sources(new File("src/main/scala")).size > 40, "scanned the wrong tree")
  }

  test("no string literal starting with /tmp in src/main") {
    val found = for {
      f <- sources(new File("src/main/scala"))
      (line, no) <- lines(f).zipWithIndex
      if line.contains("\"/tmp")
    } yield s"${f.getPath}:${no + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("fixed /tmp paths in src/main:\n", "\n", ""))
  }

  test("no graft.* system-property read in src/main outside the knob allowlist") {
    val reads = for {
      f <- sources(new File("src/main/scala"))
      text = lines(f).mkString("\n")
      m <- propRead.findAllMatchIn(text)
    } yield m.group(1) ->
      s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}: ${m.group(1)}"
    val outside = reads.collect { case (k, at) if !knobs(k) => at }
    assert(outside.isEmpty,
      outside.mkString("graft.* property reads outside the allowlist:\n", "\n", ""))
    val unread = knobs -- reads.map(_._1)
    assert(unread.isEmpty, s"allowlisted knobs no longer read: drop them from the allowlist: $unread")
  }

  test("every allowlisted read still exists") {
    allowed.foreach { case (f, a) =>
      val src = Source.fromFile(f, "UTF-8")
      try assert(src.mkString.contains(a), s"$f no longer holds $a: drop it from the allowlist")
      finally src.close()
    }
  }
}
