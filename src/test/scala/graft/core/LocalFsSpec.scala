package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import graft.SparkSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]] behave as Hadoop's
  * `LocalFileSystem` and `LocalFs`: each case runs the same calls through
  * both on sibling directories of one temp dir and compares what lands on
  * disk. */
class LocalFsSpec extends SparkSuite {

  private val local = new URI("file:///")

  /** Runs `body` once over Hadoop's `LocalFileSystem`/`LocalFs` and once
    * over the fork-free classes, each in its own directory of one temp
    * dir, with uncached instances under umask 022; returns both results.
    * (Hadoop's face is named explicitly: with hive-exec on the classpath
    * the service loader's `file` class is Hive's `ProxyLocalFileSystem`.) */
  private def both[T](body: (FileSystem, FileContext, JPath) => T): (T, T) = {
    val root = Files.createTempDirectory("localfs")
    def run(name: String, fsClass: Class[_], afsClass: Class[_]) = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", "022")
      c.set("fs.file.impl", fsClass.getName)
      c.set("fs.AbstractFileSystem.file.impl", afsClass.getName)
      c.setBoolean("fs.file.impl.disable.cache", true)
      val fs = FileSystem.get(local, c)
      val fc = FileContext.getFileContext(local, c)
      assert(fs.getClass == fsClass && fc.getDefaultFileSystem.getClass == afsClass)
      body(fs, fc, Files.createDirectory(root.resolve(name)))
    }
    (run("hadoop", classOf[LocalFileSystem], classOf[LocalFs]),
      run("graft", classOf[ForkFreeLocalFileSystem], classOf[ForkFreeLocalFs]))
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hp(p: JPath) = new Path(p.toUri)

  test("created files get 0644, their .crc sidecars too, and mkdirs 0755") {
    val (h, g) = both { (fs, fc, dir) =>
      val viaFs = dir.resolve("a.bin")
      val out = fs.create(hp(viaFs))
      out.write(Array.fill[Byte](3000)(7)); out.close()
      val viaFc = dir.resolve("b.bin")
      val out2 = fc.create(hp(viaFc),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out2.write(Array.fill[Byte](10)(1)); out2.close()
      val d1 = dir.resolve("d1/x")
      fs.mkdirs(hp(d1), FsPermission.getDirDefault.applyUMask(
        FsPermission.getUMask(fs.getConf)))
      val d2 = dir.resolve("d2")
      fc.mkdir(hp(d2), FsPermission.getDirDefault, true)
      Seq(viaFs, dir.resolve(".a.bin.crc"), viaFc, dir.resolve(".b.bin.crc"),
        d1, d2).map(p => (dir.relativize(p).toString, Files.exists(p), mode(p)))
    }
    assert(g == h)
    assert(g.map(_._3) == Seq(0x1a4, 0x1a4, 0x1a4, 0x1a4, 0x1ed, 0x1ed),
      s"0644 files and sidecars, 0755 dirs: $g")
    assert(g.forall(_._2))
  }

  test("setPermission sets rwx bits and still sets a sticky bit") {
    val (h, g) = both { (fs, _, dir) =>
      val f = Files.createFile(dir.resolve("f"))
      val d = Files.createDirectory(dir.resolve("d"))
      val seen = Seq(0x180, 0x1ff, 0x0, 0x1a0).map { m =>
        fs.setPermission(hp(f), new FsPermission(m.toShort)); mode(f)
      }
      fs.setPermission(hp(d), new FsPermission(0x3ff.toShort)) // 01777
      val sticky = mode(d)
      val missing = intercept[java.io.IOException](fs.setPermission(
        hp(dir.resolve("missing")), new FsPermission(0x1a4.toShort)))
      (seen, sticky, missing != null)
    }
    assert(g == h)
    assert(g._1 == Seq(0x180, 0x1ff, 0x0, 0x1a0) && g._2 == 0x3ff)
  }

  test("getFileLinkStatus: files, dirs, real symlinks, missing paths") {
    // Hadoop reads a qualified `file:` path's link through `readlink` on
    // the path's string form, which never resolves, so only the plain
    // absolute spelling reports a symlink; both spellings are compared
    val (h, g) = both { (fs, fc, dir) =>
      val f = Files.write(dir.resolve("target.txt"), "abc".getBytes)
      val link = Files.createSymbolicLink(dir.resolve("link"), f)
      def rel(p: Path) = p.toUri.getPath.stripPrefix(dir.toString)
      def sig(s: org.apache.hadoop.fs.FileStatus) = (s.isSymlink,
        if (s.isSymlink) rel(s.getSymlink) else "", s.isDirectory, s.getLen,
        rel(s.getPath))
      val paths = Seq(f, dir, link).flatMap(p => Seq(new Path(p.toString), hp(p)))
      val missing = dir.resolve("gone")
      for (p <- Seq(new Path(missing.toString), hp(missing))) {
        intercept[FileNotFoundException](fs.getFileLinkStatus(p))
        intercept[FileNotFoundException](fc.getFileLinkStatus(p))
      }
      (paths.map(p => sig(fs.getFileLinkStatus(p))),
        paths.map(p => sig(fc.getFileLinkStatus(p))))
    }
    assert(g == h)
    val (viaFs, viaFc) = g
    assert(viaFs.map(_._1) == Seq(false, false, false, false, true, false))
    assert(viaFs(4)._2 == "/target.txt", s"symlink target: ${viaFs(4)}")
    assert(viaFc(4)._1 && viaFc(4)._2 == "/target.txt", s"${viaFc(4)}")
  }

  test("FileContext.rename NONE refuses an existing target; the .crc moves") {
    val (h, g) = both { (_, fc, dir) =>
      def put(name: String, body: String) = {
        val out = fc.create(hp(dir.resolve(name)),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(body.getBytes); out.close()
      }
      put("tmp", "new"); put("dst", "old")
      intercept[FileAlreadyExistsException](fc.rename(hp(dir.resolve("tmp")),
        hp(dir.resolve("dst")), Options.Rename.NONE))
      val kept = new String(Files.readAllBytes(dir.resolve("dst")))
      fc.rename(hp(dir.resolve("tmp")), hp(dir.resolve("fresh")),
        Options.Rename.NONE)
      fc.rename(hp(dir.resolve("fresh")), hp(dir.resolve("dst")),
        Options.Rename.OVERWRITE)
      val in = fc.open(hp(dir.resolve("dst")))
      val now = try new String(in.readAllBytes()) finally in.close()
      val names = Files.list(dir).toArray.map(_.asInstanceOf[JPath]
        .getFileName.toString).sorted.toSeq
      (kept, now, names)
    }
    assert(g == h)
    assert(g == (("old", "new", Seq(".dst.crc", "dst"))))
  }

  test("a GraftSession resolves both file-scheme keys to the fork-free classes") {
    val c = spark.sessionState.newHadoopConf()
    assert(FileSystem.getFileSystemClass("file", c) ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(local, c).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
    assert(spark.sparkContext.getConf.get("spark.broadcast.blockSize") == "256k")
  }
}
