package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Scala sources are plain text: a raw control byte in a string literal
  * makes grep and ripgrep classify the file as binary and skip it, so such
  * bytes are written as escapes (`"\u0001"`) instead. Main has one lineage
  * barrier, [[Barrier]]: no other main source checkpoints a dataset, and
  * every frame main materializes and hands out goes through it; a cache
  * that one block uses only itself is released in that block's `finally`.
  * Every write under `sinks/` and `checkpoint/` goes through
  * [[OutputFs]], the one owner of the output filesystem. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaSources(root: String, atLeast: Int): Vector[java.nio.file.Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"run from the repository root (cwd: ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toVector
    assert(files.size > atLeast, s"only ${files.size} sources found under $dir")
    files
  }

  /** `text` with every comment blanked out; newlines stay, so line numbers
    * hold. String and char literals are copied as they are, so a comment
    * marker inside one opens no comment. Block comments nest, as in Scala. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder(text.length)
    val n = text.length
    def at(i: Int, s: String) = text.startsWith(s, i)
    var i = 0
    while (i < n) {
      if (at(i, "//")) {
        while (i < n && text(i) != '\n') { out += ' '; i += 1 }
      } else if (at(i, "/*")) {
        var depth = 0
        do {
          if (at(i, "/*")) { depth += 1; out ++= "  "; i += 2 }
          else if (at(i, "*/")) { depth -= 1; out ++= "  "; i += 2 }
          else { out += (if (text(i) == '\n') '\n' else ' '); i += 1 }
        } while (i < n && depth > 0)
      } else if (at(i, "\"\"\"")) {
        val end = text.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out ++= text.substring(i, stop); i = stop
      } else if (text(i) == '"') {
        out += '"'; i += 1
        while (i < n && text(i) != '"' && text(i) != '\n') {
          if (text(i) == '\\' && i + 1 < n) { out += text(i); i += 1 }
          out += text(i); i += 1
        }
        if (i < n && text(i) == '"') { out += '"'; i += 1 }
      } else if (text(i) == '\'' && i + 2 < n && (text(i + 2) == '\'' || text(i + 1) == '\\')) {
        val stop = text.indexOf('\'', if (text(i + 1) == '\\') i + 3 else i + 2) + 1
        if (stop == 0) sys.error(s"unterminated char literal at offset $i")
        out ++= text.substring(i, stop); i = stop
      } else { out += text(i); i += 1 }
    }
    out.toString
  }

  test("no main source outside Barrier.scala calls localCheckpoint( or .checkpoint(") {
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    val bad = for {
      f <- scalaSources("src/main/scala", atLeast = 40) if f.getFileName.toString != "Barrier.scala"
      (line, i) <- stripComments(new String(Files.readAllBytes(f), "UTF-8"))
        .split("\n", -1).zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, bad.mkString(
      s"${bad.size} raw checkpoint call(s); route them through graft.Barrier:\n", "\n", ""))
  }

  test("every persist( / .cache() in main is unpersisted in a finally of the block that binds it") {
    val site = """\.persist\(|\.cache\(\)""".r
    val binding = """\bval\s+(\w+)\s*=""".r
    val bad = for {
      f <- scalaSources("src/main/scala", atLeast = 40)
      text = stripComments(new String(Files.readAllBytes(f), "UTF-8"))
      m <- site.findAllMatchIn(text).toVector
      // the val the cached frame is bound to: the last one opened before the call
      b = binding.findAllMatchIn(text.substring(0, m.start)).toVector.last
      // the block that binds it ends where the brace depth drops below its start
      end = {
        var depth = 0; var i = b.start
        while (i < text.length && depth >= 0) {
          if (text(i) == '{') depth += 1 else if (text(i) == '}') depth -= 1
          i += 1
        }
        i
      }
      released = (s"""finally\\s*(\\{[^}]*)?\\b${b.group(1)}\\.unpersist\\(""").r
      if released.findFirstIn(text.substring(m.end, end)).isEmpty
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${b.group(1)}"
    assert(bad.isEmpty, bad.mkString(s"${bad.size} cache(s) with no owner; unpersist them in a " +
      "finally of the block that uses them, or hand the frame out through graft.Barrier:\n", "\n", ""))
  }

  test("every write under sinks/ and checkpoint/ goes through graft.OutputFs") {
    // a DataFrameWriter (`.write` with no argument list) must take the
    // owner's options first; a filesystem handle comes from the owner only
    val writer = """\.write\b(?!\s*\()""".r
    val owned = """\A\s*\.options\((graft\.)?OutputFs\.writeOptions\(""".r
    val handle = """getFileSystem\(|FileSystem\.(get|getLocal|newInstance)\(""".r
    val bad = for {
      dir <- Seq("src/main/scala/graft/sinks", "src/main/scala/graft/checkpoint")
      f <- scalaSources(dir, atLeast = 0)
      text = stripComments(new String(Files.readAllBytes(f), "UTF-8"))
      m <- writer.findAllMatchIn(text).filter(m => owned.findPrefixOf(text.substring(m.end)).isEmpty) ++
        handle.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(bad.isEmpty, bad.mkString(s"${bad.size} write(s) around graft.OutputFs; take " +
      "OutputFs.writeOptions on the writer and OutputFs.fs for a handle:\n", "\n", ""))
  }

  test("no .scala file under src/ contains a control byte other than tab, LF or CR") {
    val files = scalaSources("src", atLeast = 50)
    def isControl(b: Byte) = (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r') || b == 0x7f
    val bad = for {
      f <- files
      bytes = Files.readAllBytes(f)
      i <- bytes.indices if isControl(bytes(i))
    } yield f"$f:${bytes.take(i).count(_ == '\n') + 1}: byte 0x${bytes(i)}%02x"
    assert(bad.isEmpty, bad.mkString("control bytes in sources:\n", "\n", ""))
  }
}
