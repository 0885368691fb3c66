package graft

import java.io.{File, IOException}
import java.net.URI
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The build-once protocol of [[Scratch.artifact]], the private dir of
  * [[Scratch.withWorkDir]], the wave moves of [[Scratch.stageWaves]] and
  * the file count of [[Scratch.dataFiles]].
  * No session: the protocol is plain files. */
class ScratchSpec extends AnyFunSuite {

  /** A fresh artifact key under the root, removed after `body`. */
  private def withKey(body: String => Unit): Unit = {
    val key = new File(Scratch.unique("scratchspec")).getName
    try body(key)
    finally scala.reflect.io.Path(Scratch.path(key)).deleteRecursively()
  }

  private def touch(dir: String, name: String): Unit = {
    new File(dir).mkdirs()
    new File(dir, name).createNewFile()
  }

  test("artifact: a dir without _OK is deleted, rebuilt and marked") {
    withKey { key =>
      val dir = Scratch.path(key)
      touch(dir, "stale.parquet") // a crashed half-write: no marker
      var builds = 0
      val got = Scratch.artifact(key) { d => builds += 1; touch(d, "part-0") }
      assert(got == dir)
      assert(builds == 1)
      assert(!new File(dir, "stale.parquet").exists(), "stale file served")
      assert(new File(dir, "part-0").exists() && new File(dir, "_OK").exists())
    }
  }

  test("artifact: a committed dir is served without calling the build") {
    withKey { key =>
      val dir = Scratch.path(key)
      touch(dir, "part-0")
      touch(dir, "_OK")
      val got = Scratch.artifact(key)(_ => fail("a committed artifact was rebuilt"))
      assert(got == dir && new File(dir, "part-0").exists())
      // refresh rebuilds it anyway, and commits again
      var builds = 0
      Scratch.artifact(key, refresh = true) { d => builds += 1; touch(d, "part-1") }
      assert(builds == 1)
      assert(!new File(dir, "part-0").exists() && new File(dir, "part-1").exists())
      assert(new File(dir, "_OK").exists())
    }
  }

  test("artifact: 4 threads racing on one key build it exactly once") {
    withKey { key =>
      val builds = new AtomicInteger(0)
      val go = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val calls = (1 to 4).map(_ => pool.submit(new Callable[String] {
          def call(): String = {
            go.await()
            Scratch.artifact(key) { d =>
              builds.incrementAndGet()
              Thread.sleep(300) // every racer reaches the marker check meanwhile
              touch(d, "part-0")
            }
          }
        }))
        go.countDown()
        val dirs = calls.map(_.get(60, TimeUnit.SECONDS))
        assert(builds.get == 1, s"built ${builds.get} times")
        assert(dirs.toSet == Set(Scratch.path(key)))
        assert(new File(Scratch.path(key), "_OK").exists())
      } finally pool.shutdownNow()
    }
  }

  test("withWorkDir: a unique dir, deleted after the body returns or throws") {
    var seen = Seq.empty[String]
    val v = Scratch.withWorkDir("scratchspec_work") { dir =>
      touch(dir, "f"); seen :+= dir; 7
    }
    intercept[IllegalStateException] {
      Scratch.withWorkDir("scratchspec_work") { dir =>
        touch(dir, "f"); seen :+= dir; throw new IllegalStateException("boom")
      }
    }
    assert(v == 7)
    assert(seen.distinct.length == 2)
    assert(seen.forall(d => new File(d).getName.matches("scratchspec_work_[0-9a-f]{8}")))
    assert(seen.forall(d => !new File(d).exists()), "work dir left behind")
  }

  /** `n` stage dirs under `key`, each holding one part file, named so
    * that name order is wave order, beside a `_SUCCESS` marker. */
  private def stages(key: String, n: Int): Seq[String] =
    (0 until n).map { i =>
      val dir = Scratch.path(s"$key/stage_w$i")
      touch(dir, s"part-0000$i.parquet")
      touch(dir, "_SUCCESS")
      dir
    }

  private val localFs = FileSystem.getLocal(new Configuration())

  test("stageWaves: each wave's file is moved in, stamped later than the wave before") {
    withKey { key =>
      val in = Scratch.path(s"$key/in")
      val staged = stages(key, 3)
      Scratch.stageWaves(localFs, staged, in)
      val moved = new File(in).listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).toSeq
      assert(moved.map(_.getName) == (0 until 3).map(i => s"part-0000$i.parquet"))
      val stamps = moved.map(_.lastModified())
      assert(stamps.zip(stamps.tail).forall { case (a, b) => a < b },
        s"wave stamps not strictly increasing: $stamps")
      assert(staged.forall(d => !new File(d).list().exists(_.startsWith("part-"))),
        "a part file was left in its stage dir")
    }
  }

  test("stageWaves: a move the filesystem refuses throws, naming the wave") {
    withKey { key =>
      val refusing = new RawLocalFileSystem {
        override def rename(src: Path, dst: Path): Boolean = false
      }
      refusing.initialize(URI.create("file:///"), new Configuration())
      val e = intercept[IOException] {
        Scratch.stageWaves(refusing, stages(key, 2), Scratch.path(s"$key/in"))
      }
      assert(e.getMessage.startsWith("wave 0: move failed"), e.getMessage)
    }
  }

  test("stageWaves: a wave that is not exactly one file throws before any move") {
    withKey { key =>
      val staged = stages(key, 2)
      touch(staged(1), "part-00009.parquet")
      val in = Scratch.path(s"$key/in")
      val e = intercept[IOException](Scratch.stageWaves(localFs, staged, in))
      assert(e.getMessage.startsWith("wave 1: expected one part file"), e.getMessage)
      assert(!new File(in).exists(), "a wave was moved before the check")
    }
  }

  test("dataFiles: counts the files a reader scans, in every subdir, none hidden") {
    withKey { key =>
      val dir = Scratch.path(key)
      touch(dir, "_SUCCESS")
      touch(dir, "_OK")
      touch(dir, ".part-00000.parquet.crc")
      touch(s"$dir/cent_id=1", "part-00000.parquet")
      touch(s"$dir/cent_id=1", "part-00001.parquet")
      touch(s"$dir/batch=0/cent_id=2", "part-00000.parquet")
      touch(s"$dir/_spark_metadata", "0")
      assert(Scratch.dataFiles(localFs, dir) == 3L)
    }
  }
}
