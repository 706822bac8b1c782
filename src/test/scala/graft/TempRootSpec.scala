package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class TempRootSpec extends AnyFunSuite {

  test("scratch deletes its dir after f returns or throws") {
    var seen = Seq.empty[Path]
    val out = TempRoot.scratch("graft-spec") { d =>
      seen :+= d
      Files.write(d.resolve("f"), Array[Byte](1))
      7
    }
    assert(out == 7)
    intercept[IllegalStateException] {
      TempRoot.scratch("graft-spec") { d =>
        seen :+= d
        Files.createDirectories(d.resolve("sub/dir"))
        throw new IllegalStateException("boom")
      }
    }
    assert(seen.size == 2 && seen.forall(d => d.getParent == TempRoot("graft-spec")))
    assert(seen.forall(d => !Files.exists(d)), s"left behind: $seen")
  }
}
