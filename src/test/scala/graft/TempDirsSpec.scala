package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the fixture temp-dir discipline (round-13 finding: 26
  * fixture-staging sites leaked their dirs across JVMs — six 1.7 GB
  * zillow inputs drove the disk to 95% during the sf100 draws). The
  * exit-hook deletion itself can only run at JVM death; what IS
  * checkable in-process: creation works, dirs are distinct, and no
  * main-source site bypasses the tracker anymore. */
class TempDirsSpec extends AnyFunSuite {

  test("tempDir creates distinct writable dirs under java.io.tmpdir") {
    val a = graft.ops.TempDirs.tempDir("graft_spec_a")
    val b = graft.ops.TempDirs.tempDir("graft_spec_a")
    assert(a != b)
    assert(new java.io.File(a).isDirectory && new java.io.File(b).isDirectory)
    val probe = java.nio.file.Paths.get(a, "probe")
    java.nio.file.Files.writeString(probe, "x")
    assert(java.nio.file.Files.exists(probe))
  }

  test("no main-source fixture site bypasses TempDirs (ratchet)") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val offenders = walk(new java.io.File("src/main/scala/graft"))
      .filter { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines()
          .map(_.trim)
          .filterNot(t => t.startsWith("*") || t.startsWith("//"))
          .exists(_.contains("createTempDirectory"))
      }
      .map(_.getName)
      .filterNot(_ == "TempDirs.scala")
    assert(offenders.isEmpty,
      s"raw createTempDirectory in src/main (leaks across JVMs — route " +
        s"through TempDirs.tempDir): ${offenders.mkString(", ")}")
  }
}
