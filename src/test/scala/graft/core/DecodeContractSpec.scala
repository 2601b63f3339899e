package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the decode contract in one place: every strict → safe twin goes
  * through [[Refusal.attempt]], and [[Refusal]] is the only exception type
  * that carries a `kind`. A hand-written `try Right(` twin or a
  * per-format error class would fork the refusal vocabulary again.
  */
class DecodeContractSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")

  /** the combinator itself, and the twins that stay hand-written: a
    * `RuntimeException` backstop and the media decoders' message-sniffed
    * kinds
    */
  private val HandWritten = Set(
    "graft/core/Refusal.scala",
    "graft/ops/Exif.scala",
    "graft/ops/WebpAnim.scala")

  private def sources: Seq[(String, String)] = {
    val s = Files.walk(Root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .map((p: Path) => (Root.relativize(p).toString.replace('\\', '/'), Files.readString(p)))
    finally s.close()
  }

  test("the source tree is where the guards look") {
    assert(sources.exists(_._1 == "graft/core/Refusal.scala"))
  }

  test("no strict → safe twin is hand-written outside Refusal") {
    val forks = sources.collect {
      case (f, text) if !HandWritten(f) && text.contains("try Right(") => f
    }
    assert(forks.isEmpty, s"use Refusal.attempt instead of try Right( in: $forks")
  }

  test("Refusal is the only exception type that carries a kind") {
    val Decl = """(?s)class\s+(\w+)\s*\(([^)]*)\)\s*extends\s+([\w.]+)""".r
    val kinded = sources.flatMap { case (f, text) =>
      Decl.findAllMatchIn(text).collect {
        case m if m.group(1) != "Refusal" &&
            """\bval\s+kind\b""".r.findFirstIn(m.group(2)).isDefined &&
            """(Exception|Error|Throwable)$""".r.findFirstIn(m.group(3)).isDefined =>
          s"$f: ${m.group(1)}"
      }
    }
    assert(kinded.isEmpty, s"throw graft.core.Refusal instead of: $kinded")
  }
}
