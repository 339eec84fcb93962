package graft.core

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class FsUtilSpec extends AnyFunSuite {

  test("scratchDir honours a writable GRAFT_SCRATCH_DIR override") {
    val root = Files.createTempDirectory("graft-scratch-root")
    try {
      val d = FsUtil.scratchDir("graft-spec", Some(root.toString))
      assert(d.getParent == root)
      assert(Files.isDirectory(d))
    } finally FsUtil.deleteRecursively(root)
  }

  test("scratchDir fails fast on a GRAFT_SCRATCH_DIR that is not a writable directory") {
    val root = Files.createTempDirectory("graft-scratch-bad")
    try {
      val missing = root.resolve("no-such-dir").toString
      val file = Files.write(root.resolve("a-file"), Array[Byte](1)).toString
      for (bad <- Seq(missing, file)) {
        val ex = intercept[IllegalArgumentException](FsUtil.scratchDir("graft-spec", Some(bad)))
        assert(ex.getMessage.contains("GRAFT_SCRATCH_DIR"), ex.getMessage)
        assert(ex.getMessage.contains(bad), ex.getMessage)
      }
    } finally FsUtil.deleteRecursively(root)
  }
}
