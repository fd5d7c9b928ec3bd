package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.LocalFiles

/** [[graft.sources.LocalFiles]] keeps Hadoop's local filesystem semantics —
  * modes, checksums, `FileContext` renames, symlinks — without forking. */
class LocalFilesSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def ours = new Path("file:///").getFileSystem(conf)
  private def stock = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private def mode(p: Path) = Files.getPosixFilePermissions(Paths.get(p.toUri))
  private def dir(prefix: String) = new Path(Files.createTempDirectory(prefix).toUri)

  test("every session binds the file scheme, through Hadoop's FileSystem cache, to LocalFiles") {
    assert(ours.getClass == classOf[LocalFiles.NoForkFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[LocalFiles.NoForkFs])
  }

  test("file and directory modes equal stock LocalFileSystem's under the session umask") {
    val root = dir("lfmodes")
    for ((fs, side) <- Seq(ours -> "ours", stock -> "stock")) {
      fs.create(new Path(root, s"$side/f")).close()
      fs.mkdirs(new Path(root, s"$side/d"))
      fs.create(new Path(root, s"$side/f640"), new FsPermission("640"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(root, s"$side/d750"), new FsPermission("750"))
      fs.setPermission(new Path(root, s"$side/f"), new FsPermission("604"))
    }
    for (leaf <- Seq("f", "d", "f640", "d750", ".f640.crc")) {
      val (a, b) = (mode(new Path(root, s"ours/$leaf")), mode(new Path(root, s"stock/$leaf")))
      assert(a == b, leaf)
    }
    assert(ours.getFileStatus(new Path(root, "ours/d750")).getPermission == new FsPermission("750"))
  }

  test(".crc files are written and a corrupted file fails its read") {
    val f = new Path(dir("lfcrc"), "data.bin")
    val out = ours.create(f)
    out.write(Array.tabulate[Byte](4096)(_.toByte))
    out.close()
    assert(ours.exists(new Path(f.getParent, ".data.bin.crc")))
    val local = Paths.get(f.toUri)
    val bytes = Files.readAllBytes(local)
    bytes(100) = (bytes(100) ^ 0xff).toByte
    Files.write(local, bytes)
    intercept[ChecksumException] {
      val in = ours.open(f)
      try in.readFully(new Array[Byte](4096)) finally in.close()
    }
  }

  test("FileContext rename works with and without overwrite") {
    val fc = FileContext.getFileContext(conf)
    val root = dir("lfrename")
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(s.getBytes("UTF-8"))
      out.close()
    }
    def read(p: Path) = new String(Files.readAllBytes(Paths.get(p.toUri)), "UTF-8")
    val (a, b, c) = (new Path(root, "a"), new Path(root, "b"), new Path(root, "c"))
    write(a, "first")
    fc.rename(a, b)
    assert(!fc.util.exists(a) && read(b) == "first")
    write(c, "second")
    intercept[FileAlreadyExistsException](fc.rename(c, b))
    assert(read(b) == "first")
    fc.rename(c, b, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(c) && read(b) == "second")
    assert(fc.util.listStatus(root).map(_.getPath.getName).toSet == Set("b"))
  }

  test("getFileLinkStatus on a symlink is unchanged; on a file it is the file's status") {
    val root = Files.createTempDirectory("lflink")
    val target = Files.write(root.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    for (p <- Seq(new Path(link.toString), new Path(target.toString))) {
      val (a, b) = (ours.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert(a.isSymlink == b.isSymlink && a.getLen == b.getLen && a.isFile == b.isFile, p)
      assert(a.getPath == b.getPath && a.getPermission == b.getPermission, p)
      if (a.isSymlink) assert(a.getSymlink == b.getSymlink)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(!ours.getFileLinkStatus(new Path(target.toString)).isSymlink)
  }
}
