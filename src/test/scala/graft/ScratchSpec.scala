package graft

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The build-once protocol of [[Scratch.artifact]] and the private dir
  * of [[Scratch.withWorkDir]]. No session: the protocol is plain files. */
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
}
