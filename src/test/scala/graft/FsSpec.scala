package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Fs.deleteRecursively` must tolerate a concurrent deleter of the
  * SAME tree: a per-gate shutdown hook once raced Spark's own temp
  * cleanup, and a bench tail ended with a NoSuchFileException stack
  * from exactly that window (a `.crc` vanished between the walk
  * snapshot and its delete); two JVMs reaping one stale root race the
  * same way. The session cases pin the scratch root's contract.
  */
class FsSpec extends AnyFunSuite {

  private def mkTree(files: Int): Path = {
    val root = Files.createTempDirectory("graft-fsspec")
    (0 until files).foreach { i =>
      val sub = root.resolve(s"d${i % 7}")
      Files.createDirectories(sub)
      Files.write(sub.resolve(s"f$i.crc"), Array[Byte](1, 2, 3))
    }
    root
  }

  test("deleteRecursively is a no-op on a missing path") {
    Fs.deleteRecursively(
      java.nio.file.Paths.get("/tmp/graft-fsspec-never-existed"))
  }

  test("deleteRecursively removes a populated tree") {
    val root = mkTree(40)
    Fs.deleteRecursively(root)
    assert(!Files.exists(root))
  }

  test("deleteRecursivelyVerified deletes a quiet tree and verifies") {
    val root = mkTree(25)
    Fs.deleteRecursivelyVerified(root)
    assert(!Files.exists(root))
    // and is a no-op (not an error) on an already-absent path
    Fs.deleteRecursivelyVerified(root)
  }

  test("deleteRecursivelyVerified throws when the tree survives") {
    // The DDL contract (DROP TABLE / DROP NAMESPACE / manifest
    // cleanup): reporting success while the directory survives makes
    // a later CREATE throw TableAlreadyExists spuriously. Force
    // survival with a re-creator thread that keeps repopulating the
    // tree faster than the two delete passes drain it. The race is
    // probabilistic per round, so retry a few rounds and require the
    // verified variant to have failed loud at least once.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var threw = false
    var round = 0
    while (!threw && round < 8) {
      round += 1
      stop.set(false)
      val root = mkTree(10)
      val sub = root.resolve("keep")
      Files.createDirectories(sub)
      val racer = new Thread(() => {
        var i = 0
        while (!stop.get()) {
          try {
            Files.createDirectories(sub)
            Files.write(sub.resolve(s"r$i"), Array[Byte](1))
          } catch { case _: java.io.IOException => () }
          i += 1
        }
      })
      racer.start()
      try {
        Fs.deleteRecursivelyVerified(root)
      } catch {
        case _: java.io.IOException => threw = true
      } finally {
        stop.set(true)
        racer.join()
        Fs.deleteRecursively(root)
      }
    }
    assert(threw,
      "deleteRecursivelyVerified never failed loud across 8 rounds " +
        "of a surviving tree")
  }

  test("two concurrent deleters of one tree never throw") {
    // Probabilistic by nature, so repeat: each round builds a tree and
    // races two threads over it. Before the fix this threw
    // NoSuchFileException within a round or two.
    (1 to 20).foreach { _ =>
      val root = mkTree(120)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 2).map { _ =>
        new Thread(() =>
          try Fs.deleteRecursively(root)
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent delete threw: ${errs.peek()}")
      assert(!Files.exists(root))
    }
  }

  test("concurrent rewrites of one table's _meta.json never throw") {
    // Each rewrite goes through Fs.replaceAtomically: a private temp
    // file, then an atomic move. A shared fixed temp name made
    // concurrent writers move each other's temp away
    // (NoSuchFileException) or publish a half-written one.
    val dir = Files.createTempDirectory("graft-fsspec-meta")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 6).map { t =>
      new Thread(() =>
        try (1 to 40).foreach { i =>
          graft.sources.KvBucketing.writeMeta(dir.toString, t * 100 + i)
        } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent meta rewrite threw: ${errs.peek()}")
    val meta = graft.sources.KvBucketing.readMetaFull(dir.toString)
    assert(meta.buckets.exists(n => n % 100 == 40),
      s"the last write of some thread should win, got $meta")
    val left = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    assert(left === Seq(graft.sources.KvBucketing.MetaFile),
      s"temp files left behind: $left")
    Fs.deleteRecursively(dir)
  }

  test("scratch is per session and emptied on every call") {
    val (a, b) =
      (SparkTestBase.session.newSession(), SparkTestBase.session.newSession())
    try {
      val d = Fs.scratch(a, "fsspec")
      assert(d != Fs.scratch(b, "fsspec"))
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, "f"), Array[Byte](1))
      assert(Fs.scratch(a, "fsspec") === d)
      assert(!Files.exists(Paths.get(d)))
    } finally { Fs.release(a); Fs.release(b) }
  }

  test("scratch and session tables keep the run root fresh for the reaper") {
    val s = SparkTestBase.session.newSession()
    def age() = System.currentTimeMillis() -
      Files.getLastModifiedTime(Fs.root).toMillis
    // An hour back: older than any refresh, younger than the horizon.
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600L * 1000)
    try {
      Files.setLastModifiedTime(Fs.root, old)
      Fs.scratch(s, "fsspec")
      assert(age() < 60000L)
      Files.setLastModifiedTime(Fs.root, old)
      Fs.sessionTable(s, "fsspec_fresh")
      assert(age() < 60000L)
    } finally Fs.release(s)
  }

  test("release drops the session's kv tables and scratch, not a sibling's") {
    val (a, b) =
      (SparkTestBase.session.newSession(), SparkTestBase.session.newSession())
    val ta = graft.sources.KvGate.table(a, "fsspec_rel")
    val tb = graft.sources.KvGate.table(b, "fsspec_rel")
    Files.createDirectories(Paths.get(Fs.scratch(a, "fsspec")))
    Files.createDirectories(Paths.get(Fs.scratch(b, "fsspec")))
    Fs.release(a)
    assert(!Files.exists(Paths.get(ta.dir)))
    assert(!Files.exists(Fs.sessionDir(a)))
    assert(Files.exists(Paths.get(tb.dir)))
    assert(Files.exists(Fs.sessionDir(b)))
    Fs.release(b)
    assert(!Files.exists(Paths.get(tb.dir)))
  }

  test("after a release, a memoized value of the session computes again") {
    val s = SparkTestBase.session.newSession()
    val memo = new graft.operators.SessionMemo[Int]
    var builds = 0
    def get() = memo.getOrCompute(s, "d") { builds += 1; builds }
    assert(get() === 1)
    assert(get() === 1)
    Fs.release(s)
    assert(get() === 2)
    Fs.release(s)
  }

  private def sources(dir: String): Seq[(Path, String)] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
      .toSeq

  test("only Fs decides where scratch lives in src/main") {
    // A fixed base under the temp dir would be shared by every session
    // of the JVM; scratch goes through Fs.scratch instead.
    val offenders = sources("src/main")
      .filter { case (f, text) =>
        f.getFileName.toString != "Fs.scala" &&
          (text.contains("java.io.tmpdir") || text.contains("sinkDir"))
      }
      .map(_._1)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("src/main names no file in SQL-on-file text") {
    // A `parquet.` + backquoted path clause infers the file's schema
    // with a Spark job on every statement and skips the fixture
    // canary; SQL reads a fixture through Tables.view instead.
    val offenders = sources("src/main").flatMap { case (f, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("parquet.`") => s"$f:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} sites: ${offenders.mkString(", ")}")
  }

  test("specs take their temp dirs from SparkTestBase.tempDir") {
    // A createTempDirectory dir outlives the run: no reaper knows its
    // random name. Exception: this spec, which tests the scratch
    // root itself and deletes what it makes.
    val offenders = sources("src/test")
      .filter { case (f, text) =>
        f.getFileName.toString != "FsSpec.scala" &&
          text.contains("createTempDirectory")
      }
      .map(_._1)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("the only mains are Verify, Bench, Explain and Smoke") {
    // A diagnostic belongs in a spec, a registered query or a
    // layerbench mode, where something runs it, not in a main of its own.
    val Obj = """object (\w+)""".r
    val mains = sources("src/main").flatMap { case (_, text) =>
      """def main\(""".r.findAllMatchIn(text).map(m =>
        Obj.findAllMatchIn(text.take(m.start)).toSeq.lastOption
          .fold("<no object>")(_.group(1)))
    }.toSet
    assert(mains === Set("Verify", "Bench", "Explain", "Smoke"))
  }
}
