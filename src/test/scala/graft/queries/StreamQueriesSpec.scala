package graft.queries

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** The late-data fixture's batch directories: `partitionBy` writes no
  * `__batch=x/` for a batch without rows, yet the replay reads every `x/`. */
class StreamQueriesSpec extends AnyFunSuite {

  private def touch(f: File): Unit = { f.getParentFile.mkdirs(); Files.write(f.toPath, Array[Byte](1)) }

  private def withBatches(written: Seq[String])(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("batches").toFile
    try {
      written.foreach(b => touch(new File(dir, s"__batch=$b/part-$b.parquet")))
      body(dir)
    } finally FileUtils.deleteQuietly(dir)
  }

  test("moveBatchDirs: a batch with no rows gets an empty dir, the others keep their files") {
    withBatches(Seq("a", "c")) { dir =>
      StreamQueries.moveBatchDirs(dir.getPath, Seq("a", "b", "c"))
      assert(dir.list().sorted.toSeq == Seq("a", "b", "c"))
      assert(new File(dir, "b").isDirectory && new File(dir, "b").list().isEmpty)
      for (b <- Seq("a", "c"))
        assert(new File(dir, b).list().toSeq == Seq(s"part-$b.parquet"))
    }
  }

  test("moveBatchDirs: a batch dir that cannot be moved throws") {
    withBatches(Seq("a")) { dir =>
      touch(new File(dir, "a/stale")) // rename(2) will not replace a non-empty dir
      assertThrows[java.io.IOException](StreamQueries.moveBatchDirs(dir.getPath, Seq("a")))
    }
  }
}
