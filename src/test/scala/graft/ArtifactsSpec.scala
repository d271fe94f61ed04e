package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The publish protocol every serving artifact shares, driven with plain
  * Hadoop-FS writes (no Spark job): a failed build leaves nothing
  * behind, a marker is what makes a path complete, a half-built
  * squatter is replaced, a complete path is never rebuilt, and two
  * concurrent builders leave one complete artifact and no temp. */
class ArtifactsSpec extends SparkTestBase {

  private def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def writeFile(dir: String, name: String, body: String): Unit = {
    val out = fs.create(new Path(dir, name), true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private def readFile(dir: String, name: String): String = {
    val in = fs.open(new Path(dir, name))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def complete(path: String): Boolean = fs.exists(new Path(path, "_COMPLETE"))

  /** Entries of `dir` whose name marks a publish temp. */
  private def temps(dir: String): Seq[String] =
    if (!fs.exists(new Path(dir))) Nil
    else fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName).filter(_.contains(".tmp."))

  test("a write that throws leaves nothing at the path and no temp; the next publish builds") {
    withIndexRoot { root =>
      val path = s"$root/a"
      val e = intercept[IllegalStateException] {
        Artifacts.publish(spark, path) { tmp =>
          writeFile(tmp, "part", "half")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed", "the build's own failure was not rethrown")
      assert(!fs.exists(new Path(path)), "a failed build left something at the path")
      assert(temps(root).isEmpty, s"a failed build left its temp: ${temps(root)}")
      assert(Artifacts.publish(spark, path)(tmp => writeFile(tmp, "part", "whole")) == path)
      assert(complete(path) && readFile(path, "part") == "whole")
    }
  }

  test("a stray temp that holds a marker but was never renamed does not count as published") {
    withIndexRoot { root =>
      val path = s"$root/a"
      val stray = s"$root/.a.tmp.deadbeef"
      writeFile(stray, "part", "stray")
      writeFile(stray, "_COMPLETE", "")
      var built = false
      Artifacts.publish(spark, path) { tmp => built = true; writeFile(tmp, "part", "fresh") }
      assert(built, "a marked stray temp was taken for the published artifact")
      assert(complete(path) && readFile(path, "part") == "fresh")
    }
  }

  test("a half-built squatter without a marker is evicted and replaced") {
    withIndexRoot { root =>
      val path = s"$root/a"
      writeFile(path, "part", "squatter")
      writeFile(path, "leftover", "squatter")
      Artifacts.publish(spark, path)(tmp => writeFile(tmp, "part", "fresh"))
      assert(complete(path) && readFile(path, "part") == "fresh")
      assert(!fs.exists(new Path(path, "leftover")), "the squatter's files survived")
      assert(temps(path).isEmpty, "the temp was renamed INTO the squatter")
    }
  }

  test("an already-complete path never invokes the write") {
    withIndexRoot { root =>
      val path = s"$root/a"
      Artifacts.publish(spark, path)(tmp => writeFile(tmp, "part", "first"))
      val marker = fs.getFileStatus(new Path(path, "_COMPLETE")).getModificationTime
      val again = Artifacts.publish(spark, path)(_ => fail("write invoked on a complete path"))
      assert(again == path && readFile(path, "part") == "first")
      assert(fs.getFileStatus(new Path(path, "_COMPLETE")).getModificationTime == marker)
    }
  }

  test("two concurrent publishers of one path: both return, one writer's artifact, no temp") {
    withIndexRoot { root =>
      val path = s"$root/gen/a"
      // both writers are inside `write` before either reaches the rename
      val barrier = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val runs = Seq("one", "two").map { who =>
          pool.submit(new Callable[String] {
            def call(): String = Artifacts.publish(spark, path) { tmp =>
              writeFile(tmp, "part", who)
              barrier.await(30, TimeUnit.SECONDS)
            }
          })
        }
        assert(runs.map(_.get(60, TimeUnit.SECONDS)) == Seq(path, path))
      } finally pool.shutdownNow()
      assert(complete(path))
      assert(Set("one", "two").contains(readFile(path, "part")))
      assert(temps(s"$root/gen").isEmpty && temps(path).isEmpty,
        s"a temp survived the race: ${temps(s"$root/gen") ++ temps(path)}")
    }
  }
}
