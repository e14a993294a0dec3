package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Scala sources are plain text: a raw control byte in a string literal
  * makes grep and ripgrep classify the file as binary and skip it, so such
  * bytes are written as escapes (`"\u0001"`) instead. */
class SourceHygieneSpec extends AnyFunSuite {

  test("no .scala file under src/ contains a control byte other than tab, LF or CR") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root (cwd: ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toVector
    assert(files.size > 50, s"only ${files.size} sources found under $src")
    def isControl(b: Byte) = (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r') || b == 0x7f
    val bad = for {
      f <- files
      bytes = Files.readAllBytes(f)
      i <- bytes.indices if isControl(bytes(i))
    } yield f"$f:${bytes.take(i).count(_ == '\n') + 1}: byte 0x${bytes(i)}%02x"
    assert(bad.isEmpty, bad.mkString("control bytes in sources:\n", "\n", ""))
  }
}
