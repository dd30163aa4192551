package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import graft.streaming.Streams

/** Pins the scratch-symlink ensure semantics the r12 snapshot commit
  * changed UNTESTED (Streams.scala — NOFOLLOW_LINKS existence probe +
  * swallowed FileAlreadyExistsException; flagged by VERDICT r12 "What's
  * wrong" #2). Two properties:
  *
  *  (a) a DANGLING leftover link (its target regenerated away) must
  *      read as PRESENT — re-ensure must not throw
  *      FileAlreadyExistsException, and once the target exists again
  *      the same link serves it (links follow the PATH, not an inode);
  *  (b) two concurrent ensure calls legally race the create — the
  *      loser's FileAlreadyExistsException is the winner's success
  *      (the CommitLock pattern), so BOTH calls must return a link
  *      that resolves to the target.
  */
class StreamsLinkSpec extends SparkSpec {

  /** Run `body` on a fresh temp directory, deleted afterwards. */
  private def withTmpDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally SparkSpec.deleteRecursively(dir)
  }

  test("dangling leftover link reads as present; re-ensure recovers, not throws") {
    withTmpDir("graft_linkspec_a") { dir =>
      val target = dir.resolve("events.parquet")
      val linkDir = dir.resolve("links")
      // Plant the dangling state directly: link exists, target does not.
      Files.createDirectories(linkDir)
      Files.createSymbolicLink(linkDir.resolve("events.parquet"), target)
      assert(!Files.exists(target))
      // Pre-fix behavior: exists(link) without NOFOLLOW is false for a
      // dangling link, so ensure re-created it and createSymbolicLink
      // threw FileAlreadyExistsException. Post-fix: no throw.
      val link = Streams.ensureSourceLink(linkDir, target)
      // Target "regenerated": the same link must now serve the new bytes.
      Files.writeString(target, "regenerated")
      assert(Files.readString(link) == "regenerated")
    }
  }

  test("end-to-end: eventsStream survives a dangling scratch link after source regeneration") {
    // Build a private sf dir (unique path => unique saneKey scratch dir)
    // holding a REAL events.parquet, run a symlink-path streaming helper
    // once, regenerate the source (delete + rewrite at the same path so
    // the cached link dangles in between), and run the helper again.
    withTmpDir("graft_linkspec_sf") { sf =>
      val src = Paths.get(s"$Sf0001/events.parquet")
      val dst = sf.resolve("events.parquet")
      Files.copy(src, dst)
      val first = Streams.streamDedup(spark, sf.toString)
      val n1 = first.count()
      assert(n1 > 0)
      // Regeneration: target vanishes (scratch link now dangles), then a
      // new file lands at the same path.
      Files.delete(dst)
      Files.copy(src, dst)
      // Pre-fix this threw FileAlreadyExistsException from the re-ensure.
      val second = Streams.streamDedup(spark, sf.toString)
      assert(second.count() == n1)
    }
  }

  test("two concurrent ensure calls both succeed (loser's exception is winner's success)") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      // Many fresh rounds: the barrier lines both threads up on the
      // same never-before-seen linkDir so the create itself races.
      for (round <- 0 until 200) {
        withTmpDir(s"graft_linkspec_race$round") { dir =>
          val target = dir.resolve("t.parquet")
          Files.writeString(target, "x")
          val linkDir = dir.resolve("links")
          val barrier = new CyclicBarrier(2)
          val done = new CountDownLatch(2)
          @volatile var err: Throwable = null
          (1 to 2).foreach { _ =>
            pool.execute { () =>
              try {
                barrier.await(30, TimeUnit.SECONDS)
                val link = Streams.ensureSourceLink(linkDir, target)
                assert(Files.readString(link) == "x")
              } catch { case t: Throwable => err = t }
              finally done.countDown()
            }
          }
          assert(done.await(60, TimeUnit.SECONDS))
          if (err != null) throw err
        }
      }
    } finally pool.shutdownNow()
  }
}
