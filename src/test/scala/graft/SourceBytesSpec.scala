package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library sources hold no raw control bytes: one makes `grep` treat the
  * whole file as binary and hide every match in it. A control character
  * a string needs is written as an escape (`"\u0000"`). */
class SourceBytesSpec extends AnyFunSuite {

  test("no file under src/main holds a control byte other than tab, LF or CR") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (line, n) <- new String(Files.readAllBytes(f), "ISO-8859-1")
        .split("\n", -1).zipWithIndex
      c <- line.find(c => (c < ' ' && c != '\t' && c != '\r') || c == '\u007f')
    } yield f"$f:${n + 1}: byte 0x${c.toInt}%02x"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
