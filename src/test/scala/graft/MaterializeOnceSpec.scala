package graft

import java.io.File
import java.nio.file.Files

import graft.ops.FileOps

/** The fixture protocol every files-root directory is built through
  * ([[FileOps.materializeOnce]]): the writer runs once, a failed writer
  * leaves the directory unmarked so the next call re-runs it, and a
  * directory completed under the legacy `_SUCCESS` convention is adopted
  * without re-running anything. Each case runs under its own fresh root. */
class MaterializeOnceSpec extends SparkSpec {

  private def withRoot(body: File => Unit): Unit = {
    val root = Files.createTempDirectory("graft_mo").toFile
    spark.conf.set("spark.graft.files.root", "file:" + root.getAbsolutePath)
    try body(root) finally spark.conf.unset("spark.graft.files.root")
  }

  private def local(dir: String): File = new File(new java.net.URI(dir).getPath)

  test("materializeOnce runs the body once across two calls") {
    withRoot { _ =>
      var runs = 0
      def once() = FileOps.materializeOnce(spark, "mo_once", sf) { d =>
        runs += 1
        Files.write(new File(local(d), "data").toPath, Array[Byte](1))
      }
      val first = once()
      val second = once()
      assert(first === second)
      assert(runs === 1)
      assert(new File(local(first), FileOps.DoneMarker).exists)
    }
  }

  test("a throwing body leaves no marker and the next call re-runs it") {
    withRoot { _ =>
      var runs = 0
      def call(fail: Boolean) = FileOps.materializeOnce(spark, "mo_throw", sf) { d =>
        runs += 1
        Files.write(new File(local(d), "partial").toPath, Array[Byte](1))
        if (fail) throw new IllegalStateException("writer failed")
      }
      intercept[IllegalStateException](call(fail = true))
      val dir = local(FileOps.cacheDir(spark, "mo_throw", sf))
      assert(!new File(dir, FileOps.DoneMarker).exists, "failed writer left a marker")
      call(fail = false)
      assert(runs === 2)
      assert(new File(dir, FileOps.DoneMarker).exists)
    }
  }

  test("a legacy _SUCCESS directory is adopted without running the body") {
    withRoot { _ =>
      val dir = local(FileOps.cacheDir(spark, "mo_legacy", sf))
      assert(dir.mkdirs())
      assert(new File(dir, "_SUCCESS").createNewFile())
      var runs = 0
      FileOps.materializeOnce(spark, "mo_legacy", sf) { _ => runs += 1 }
      assert(runs === 0)
      assert(new File(dir, FileOps.DoneMarker).exists, "legacy dir did not gain the marker")
      // nothing else appeared (hidden names are the local FS's checksums)
      assert(dir.list().filterNot(_.startsWith(".")).toSet === Set("_SUCCESS", FileOps.DoneMarker))
    }
  }
}
