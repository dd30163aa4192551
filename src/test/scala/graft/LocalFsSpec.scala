package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{GraftLocalFileSystem, GraftLocalFs}

/** `file:` is served by graft.core's LocalFs classes (registered in
  * core-site.xml), and they behave like Hadoop's stock local
  * filesystem: same modes, same link status, same checksum files. */
class LocalFsSpec extends SparkSpec {

  private val LocalUri = new URI("file:///")

  /** A Configuration naming one side's classes, with `umask`. */
  private def conf(graft: Boolean, umask: String): Configuration = {
    val c = new Configuration()
    if (!graft) {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.LocalFs")
    }
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** An uncached FileSystem and a FileContext for one side. */
  private def sides(umask: String): Seq[(String, FileSystem, FileContext)] =
    Seq(true, false).map { g =>
      val c = conf(g, umask)
      (if (g) "graft" else "stock", FileSystem.newInstance(LocalUri, c),
        FileContext.getLocalFSFileContext(c))
    }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  private def qualified(p: JPath): Path = new Path(p.toUri)

  test("file: resolves to the graft classes in a session") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(LocalUri, hc).isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(hc).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
    // the stock-side configuration of the specs below really is stock
    val stock = sides("022").last
    assert(stock._2.getClass === classOf[LocalFileSystem])
    assert(stock._3.getDefaultFileSystem.getClass.getName ===
      "org.apache.hadoop.fs.local.LocalFs")
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("created files and directories get the stock modes") {
    val sticky = new FsPermission(octal("1777").toShort)
    for (umask <- Seq("022", "077")) {
      val modes = sides(umask).map { case (name, fs, fc) =>
        val dir = SparkSpec.tempDir(s"localfs_mode_$name")
        val q = qualified(dir)
        fs.create(new Path(q, "fs_file")).close()
        fs.mkdirs(new Path(q, "fs_dir/nested"))
        fs.mkdirs(new Path(q, "fs_sticky"), sticky)
        fs.mkdirs(new Path(q, "fs_set"))
        fs.setPermission(new Path(q, "fs_set"), sticky)
        fc.create(new Path(q, "fc_file"), EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(new Path(q, "fc_dir/nested"), FsPermission.getDirDefault,
          true)
        fc.mkdir(new Path(q, "fc_sticky"), sticky, false)
        val names = Seq("fs_file", ".fs_file.crc", "fs_dir", "fs_dir/nested",
          "fs_sticky", "fs_set", "fc_file", ".fc_file.crc", "fc_dir",
          "fc_dir/nested", "fc_sticky")
        names.map(n => n -> mode(dir.resolve(n)))
      }
      assert(modes.head === modes.last, s"umask $umask")
      val byName = modes.head.toMap
      assert(byName("fs_set") === octal("1777"))
      assert(byName("fs_file") === octal(if (umask == "022") "644" else "600"))
    }
  }

  /** What a link-status call returned, field by field (FileStatus's own
    * equality compares only the path). */
  private def view(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getLen,
      st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)

  private def outcome[A](f: => A): Either[String, A] =
    scala.util.Try(f).toEither.left.map(_.getClass.getName)

  test("link status and link target match stock Hadoop") {
    val dir = SparkSpec.tempDir("localfs_links")
    val file = Files.writeString(dir.resolve("file"), "x")
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val paths = Seq(qualified(file), new Path(file.toString), qualified(sub),
      new Path(sub.toString), qualified(link), new Path(link.toString),
      qualified(dir.resolve("missing")), new Path(dir.resolve("missing").toString))
    val Seq((_, graftFs, graftFc), (_, stockFs, stockFc)) = sides("022")
    for (p <- paths) {
      assert(outcome(view(graftFs.getFileLinkStatus(p))) ===
        outcome(view(stockFs.getFileLinkStatus(p))), s"FileSystem $p")
      assert(outcome(graftFs.getLinkTarget(p)) ===
        outcome(stockFs.getLinkTarget(p)), s"FileSystem target $p")
      assert(outcome(view(graftFc.getFileLinkStatus(p))) ===
        outcome(view(stockFc.getFileLinkStatus(p))), s"FileContext $p")
      assert(outcome(graftFc.getLinkTarget(p)) ===
        outcome(stockFc.getLinkTarget(p)), s"FileContext target $p")
    }
    assert(graftFs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    for (p <- paths.takeRight(2)) {
      intercept[FileNotFoundException](graftFs.getFileLinkStatus(p))
      intercept[FileNotFoundException](graftFc.getFileLinkStatus(p))
    }
  }

  test("FileContext writes byte-identical .crc files") {
    val bytes = Array.tabulate[Byte](5000)(i => (i * 31 % 251).toByte)
    val crcs = sides("022").map { case (name, _, fc) =>
      val dir = SparkSpec.tempDir(s"localfs_crc_$name")
      val out = fc.create(new Path(qualified(dir), "data"),
        EnumSet.of(CreateFlag.CREATE))
      try out.write(bytes) finally out.close()
      fc.rename(new Path(qualified(dir), "data"),
        new Path(qualified(dir), "renamed"))
      assert(Files.readAllBytes(dir.resolve("renamed")).sameElements(bytes))
      Files.readAllBytes(dir.resolve(".renamed.crc")).toSeq
    }
    assert(crcs.head.nonEmpty)
    assert(crcs.head === crcs.last)
  }
}
