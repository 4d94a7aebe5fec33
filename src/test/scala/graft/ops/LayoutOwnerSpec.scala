package graft.ops

import graft.SparkSuiteBase

/** [[Layout.derived]], the one owner of build-once layout copies: a
  * ready copy costs no job and no write, a failed build leaves no
  * marker and the next call starts from an empty directory, and the
  * media asset table m04–m06 read is written once. */
class LayoutOwnerSpec extends SparkSuiteBase {

  /** (relative path, mtime) of every file under `root`. */
  private def files(root: String): Set[(String, Long)] = {
    val base = new java.io.File(root).toPath
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .map(f => base.relativize(f.toPath).toString -> f.lastModified).toSet
  }

  /** A fresh source dir of its own, so each case owns its copies. */
  private def withSource[T](body: String => T): T = {
    val src = java.nio.file.Files.createTempDirectory("graft-owner-src").toFile
    try body(src.getPath) finally Layout.rmQuiet(src)
  }

  test("a second derived call starts no job and rewrites no file") {
    withSource { src =>
      var builds = 0
      def copy() = Layout.derived(spark, "ownertest", src) { path =>
        builds += 1
        spark.range(20).write.mode("overwrite").parquet(path)
      }
      val path = copy()
      try {
        assert(builds == 1)
        assert(new java.io.File(path, Layout.ReadyMarker).exists(),
          "the build left no completion marker")
        val before = files(path)
        val (again, tags) = jobTagsDuring(copy())
        assert(again == path)
        assert(builds == 1, "a ready copy was built again")
        assert(tags.isEmpty, s"a ready copy dispatched ${tags.size} jobs")
        assert(files(path) == before, "a ready copy's files changed")
      } finally Layout.rmQuiet(new java.io.File(path))
    }
  }

  test("a build that throws leaves no marker; the next call rebuilds from empty") {
    withSource { src =>
      val path = Layout.tmpPath("ownerfail", src)
      try {
        val err = intercept[IllegalStateException] {
          Layout.derived(spark, "ownerfail", src) { p =>
            new java.io.File(p).mkdirs()
            java.nio.file.Files.write(new java.io.File(p, "part-half").toPath,
              "x".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            throw new IllegalStateException("build died midway")
          }
        }
        assert(err.getMessage == "build died midway")
        assert(new java.io.File(path, "part-half").exists())
        assert(!new java.io.File(path, Layout.ReadyMarker).exists(),
          "a failed build left a completion marker")
        var seen: Option[Seq[String]] = None
        Layout.derived(spark, "ownerfail", src) { p =>
          seen = Some(Option(new java.io.File(p).list()).toSeq.flatten)
          spark.range(5).write.mode("overwrite").parquet(p)
        }
        assert(seen.contains(Nil), s"the rebuild started from a non-empty dir: $seen")
        assert(new java.io.File(path, Layout.ReadyMarker).exists())
        assert(spark.read.parquet(path).count() == 5)
      } finally Layout.rmQuiet(new java.io.File(path))
    }
  }

  test("mediaParquet writes its asset table once") {
    val sf = "/root/testdata/sf0.001"
    val path = Multimodal.mediaParquet(spark, sf)
    val before = files(path)
    val (again, tags) = jobTagsDuring(Multimodal.mediaParquet(spark, sf))
    assert(again == path)
    assert(tags.isEmpty, s"the second call dispatched ${tags.size} jobs")
    assert(files(path) == before, "the second call rewrote the media table")
  }
}
