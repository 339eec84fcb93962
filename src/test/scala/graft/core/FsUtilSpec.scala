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

  test("scratch placement lives in FsUtil alone: no other main source names /dev/shm or deleteOnExit()") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    val walk = Files.walk(main)
    val offenders = try walk.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala") &&
        f.getFileName.toString != "FsUtil.scala")
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("/dev/shm") || line.contains(".deleteOnExit()") =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
