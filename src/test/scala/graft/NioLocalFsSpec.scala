package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `FileContext` on `file:` does its I/O without child processes once
  * a session with `graft.GraftExtensions` has analyzed a query, and
  * [[NioLocalFileSystem]] keeps the permissions, link statuses and
  * checksum files Hadoop's own local filesystem gives.
  */
class NioLocalFsSpec extends SparkTestBase {

  private val local = new URI("file:///")

  private def withTempDir(body: JPath => Unit): Unit =
    body(SparkTestBase.tempDir("graft_nio_local_fs"))

  private def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
    raw.initialize(local, new Configuration)
    raw
  }

  /** Processes started from Hadoop's `Shell` while `body` runs. */
  private def shellProcessesDuring(body: => Unit): Int = {
    val rec = new Recording
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      val file = Files.createTempFile("graft_process_start", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.count { e =>
          e.getEventType.getName == "jdk.ProcessStart" &&
            Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
              _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
        }
      } finally Files.delete(file)
    } finally rec.close()
  }

  test("a checkpointed dedup stream and a table read start no Shell process") {
    val s = spark.newSession()
    assert(shellProcessesDuring {
      assert(SparkEntry.queries("stream_dedup")(s, sfDir).collect().nonEmpty)
      Tables.lineitem(s, sfDir)
    } == 0)
  }

  test("FileContext on a session's Hadoop conf resolves to NioLocalFs") {
    val s = spark.newSession()
    s.range(1) // analysis builds the session's check rules
    val fc = FileContext.getFileContext(local, s.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // A conf that names its own class keeps it.
    val own = new Configuration
    own.set(GraftExtensions.LocalFileContextKey, "com.example.OwnFs")
    GraftExtensions.bindLocalFileContext(own)
    assert(own.get(GraftExtensions.LocalFileContextKey) == "com.example.OwnFs")
  }

  test("rwx modes match the ones Hadoop's chmod gives") {
    withTempDir { dir =>
      val nio = fs(new NioLocalFileSystem)
      val shell = fs(new RawLocalFileSystem)
      Seq("600", "644", "700", "755").foreach { octal =>
        val mode = new FsPermission(octal)
        val viaNio = Files.createFile(dir.resolve(s"nio_$octal"))
        val viaShell = Files.createFile(dir.resolve(s"shell_$octal"))
        nio.setPermission(new Path(viaNio.toUri), mode)
        shell.setPermission(new Path(viaShell.toUri), mode)
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(viaNio)) ==
          PosixFilePermissions.toString(Files.getPosixFilePermissions(viaShell)), octal)
      }
    }
  }

  test("a sticky-bit mode still applies") {
    withTempDir { dir =>
      val sub = Files.createDirectory(dir.resolve("sticky"))
      fs(new NioLocalFileSystem).setPermission(new Path(sub.toUri), new FsPermission("1755"))
      assert((Files.getAttribute(sub, "unix:mode").asInstanceOf[Int] & 0x0fff) == 0x3ed) // 01755
    }
  }

  test("getFileLinkStatus: missing paths throw, symlinks report their target") {
    withTempDir { dir =>
      val nio = fs(new NioLocalFileSystem)
      intercept[FileNotFoundException] {
        nio.getFileLinkStatus(new Path(dir.resolve("missing").toUri))
      }
      val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      // Hadoop's `readlink` resolves the path's string form, so only a
      // scheme-less path reports the link.
      val st = nio.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath == target.toString)
      assert(!nio.getFileLinkStatus(new Path(target.toString)).isSymlink)
    }
  }

  test("FileContext create then rename(OVERWRITE) keeps data and .crc") {
    withTempDir { dir =>
      val conf = new Configuration
      GraftExtensions.bindLocalFileContext(conf)
      val fc = FileContext.getFileContext(local, conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      def write(p: Path, text: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      val tmp = new Path(dir.resolve("0.tmp").toUri)
      val dst = new Path(dir.resolve("0").toUri)
      write(dst, "old")
      write(tmp, "new")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      val names = Files.list(dir)
      try assert(names.iterator.asScala.map(_.getFileName.toString).toSet ==
        Set("0", ".0.crc"))
      finally names.close()
      val in = fc.open(dst) // verifies the checksum
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    }
  }
}
