package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem writes what Hadoop's stock local
  * filesystem writes: the same umask-applied modes, the same `.crc`
  * sidecars (still verified on read), the same FileContext rename and
  * symlink answers. */
class LocalFsSpec extends AnyFunSuite {

  private val FileUri = new URI("file:///")

  private def withDir[A](f: java.nio.file.Path => A): A = {
    val dir = Files.createTempDirectory("graft-localfs")
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(rm)); x.delete()
      }
      rm(dir.toFile)
    }
  }

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  /** A fresh, uncached instance, like `FileSystem.newInstance`. */
  private def open(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(FileUri, c); fs
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("created files and mkdirs get the stock umask-applied modes") {
    for (umask <- Seq("022", "027", "077")) withDir { dir =>
      val c = conf(umask)
      val nio = open(new NioLocalFileSystem, c)
      val stock = open(new LocalFileSystem, c)
      for ((fs, name) <- Seq(nio -> "nio", stock -> "stock")) {
        write(fs, new Path(s"$dir/$name/a/b/file"), "x")
        fs.mkdirs(new Path(s"$dir/$name/m/n"))
        fs.mkdirs(new Path(s"$dir/$name/explicit"), new FsPermission("750"))
      }
      for (rel <- Seq("a", "a/b", "a/b/file", "a/b/.file.crc", "m", "m/n", "explicit"))
        assert(mode(dir.resolve(s"nio/$rel")) == mode(dir.resolve(s"stock/$rel")),
          s"umask $umask, $rel")
      val u = Integer.parseInt(umask, 8)
      assert(mode(dir.resolve("nio/a/b/file")) ==
        PosixFilePermissions.toString(NioRawLocalFileSystem.posix(new FsPermission((0x1b6 & ~u).toShort))))
      assert(mode(dir.resolve("nio/m/n")) ==
        PosixFilePermissions.toString(NioRawLocalFileSystem.posix(new FsPermission((0x1ff & ~u).toShort))))
    }
  }

  test("setPermission sets exactly the requested bits") {
    withDir { dir =>
      val fs = open(new NioLocalFileSystem, conf("022"))
      val p = new Path(s"$dir/f")
      write(fs, p, "x")
      for (m <- Seq("000", "400", "640", "755", "777", "123")) {
        fs.setPermission(p, new FsPermission(m))
        assert(mode(Paths.get(s"$dir/f")) ==
          PosixFilePermissions.toString(NioRawLocalFileSystem.posix(new FsPermission(m))))
        assert(Integer.toOctalString(fs.getFileStatus(p).getPermission.toShort) ==
          Integer.toOctalString(Integer.parseInt(m, 8)))
      }
    }
  }

  test(".crc sidecars are written and a corrupted payload fails its checksum") {
    withDir { dir =>
      // the stock failure handler moves a corrupt file to a bad_files
      // directory at the top of its device; keep the test inside its dir
      val fs = open(new NioLocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
            sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }, conf("022"))
      val p = new Path(s"$dir/data.bin")
      val text = "graft " * 200
      write(fs, p, text)
      assert(Files.exists(dir.resolve(".data.bin.crc")))
      assert(read(fs, p) == text)
      val stock = open(new LocalFileSystem, conf("022"))
      write(stock, new Path(s"$dir/stock.bin"), text)
      assert(Files.readAllBytes(dir.resolve(".data.bin.crc")).sameElements(
        Files.readAllBytes(dir.resolve(".stock.bin.crc"))))

      val raf = new java.io.RandomAccessFile(dir.resolve("data.bin").toFile, "rw")
      try { raf.seek(7); raf.write('X'.toInt) } finally raf.close()
      assertThrows[ChecksumException](read(fs, p))
    }
  }

  test("FileContext: the binding, and rename(OVERWRITE) replaces the destination") {
    withDir { dir =>
      val c = conf("022")
      c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      val fc = FileContext.getFileContext(FileUri, c)
      assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      val stockServer = FileContext.getLocalFSFileContext(new Configuration())
        .getDefaultFileSystem.getServerDefaults(new Path("/"))
      assert(fc.getDefaultFileSystem.getServerDefaults(new Path("/")).getBytesPerChecksum ==
        stockServer.getBytesPerChecksum)
      assert(fc.getDefaultFileSystem.getUriDefaultPort == -1)

      def put(p: Path, text: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      val (src, dst) = (new Path(s"$dir/manifest.tmp"), new Path(s"$dir/manifest"))
      put(src, "new manifest")
      put(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      assert(!Files.exists(dir.resolve(".manifest.tmp.crc")))
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new manifest") finally in.close()
      // without OVERWRITE an existing destination is refused, as before
      put(src, "again")
      assertThrows[org.apache.hadoop.fs.FileAlreadyExistsException](fc.rename(src, dst))
    }
  }

  test("a symlink still reports its target; a plain file reports no link") {
    withDir { dir =>
      val target = dir.resolve("target.txt")
      Files.write(target, "t".getBytes(UTF_8))
      val link = dir.resolve("link.txt")
      Files.createSymbolicLink(link, target)
      val c = conf("022")
      val nio = open(new NioLocalFileSystem, c)
      val stock = open(new LocalFileSystem, c)
      val (lp, fp) = (new Path(link.toString), new Path(target.toString))
      for (fs <- Seq(nio, stock)) {
        val st = fs.getFileLinkStatus(lp)
        assert(st.isSymlink, fs.getClass.getName)
        assert(st.getSymlink.toUri.getPath == target.toString)
        assert(fs.getLinkTarget(lp).toUri.getPath == target.toString)
        assert(!fs.getFileLinkStatus(fp).isSymlink)
        assert(fs.getFileLinkStatus(fp).getLen == 1)
      }
      assertThrows[java.io.FileNotFoundException](nio.getFileLinkStatus(new Path(s"$dir/absent")))

      c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      val fc = FileContext.getFileContext(FileUri, c)
      assert(fc.getDefaultFileSystem.supportsSymlinks)
      val st = fc.getFileLinkStatus(lp)
      assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString)
      assert(fc.getLinkTarget(lp).toUri.getPath == target.toString)
    }
  }
}
