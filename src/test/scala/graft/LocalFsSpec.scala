package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` scheme: bound for both Hadoop filesystem APIs,
  * and observably the same as Hadoop's own local filesystem for mode
  * bits, rename-onto-existing and symlinks. */
class LocalFsSpec extends AnyFunSuite {
  private def conf = SparkTestSession.spark.sparkContext.hadoopConfiguration
  private def dir(): JPath = Files.createTempDirectory("localfs_spec")
  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def hp(p: JPath): Path = new Path(p.toString)

  test("the file: scheme resolves to the engine classes through FileSystem and FileContext") {
    for (c <- Seq(conf, new Configuration())) {
      val fs = FileSystem.get(new URI("file:///"), c)
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
      assert(FileSystem.getLocal(c).isInstanceOf[ForkFreeLocalFileSystem])
      val afs = AbstractFileSystem.get(new URI("file:///"), c)
      assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
    }
  }

  test("created files and directories get Hadoop's chmod mode bits under the default umask") {
    val d = dir()
    // Hadoop's own raw filesystem sets them by running chmod
    val stock = new RawLocalFileSystem()
    stock.initialize(new URI("file:///"), new Configuration())
    stock.create(hp(d.resolve("stock.bin"))).close()
    stock.mkdirs(hp(d.resolve("stock_dir/sub")))
    val fs = FileSystem.getLocal(conf)
    fs.create(hp(d.resolve("fs.bin"))).close()
    fs.mkdirs(hp(d.resolve("fs_dir/sub")))
    val fc = FileContext.getLocalFSFileContext(conf)
    fc.create(hp(d.resolve("fc.bin")), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      .close()
    fc.mkdir(hp(d.resolve("fc_dir/sub")), FsPermission.getDirDefault, true)
    assert(mode(d.resolve("stock.bin")) == "rw-r--r--")
    assert(mode(d.resolve("stock_dir/sub")) == "rwxr-xr-x")
    for (f <- Seq("fs.bin", "fc.bin"))
      assert(mode(d.resolve(f)) == mode(d.resolve("stock.bin")), f)
    for (f <- Seq("fs_dir", "fs_dir/sub", "fc_dir", "fc_dir/sub"))
      assert(mode(d.resolve(f)) == mode(d.resolve("stock_dir/sub")), f)
    // explicit modes, and the sticky bit java.nio cannot set
    fs.setPermission(hp(d.resolve("fs.bin")), new FsPermission("600"))
    assert(mode(d.resolve("fs.bin")) == "rw-------")
    fs.setPermission(hp(d.resolve("fs_dir")), new FsPermission("1777"))
    assert(Files.getAttribute(d.resolve("fs_dir"), "unix:mode").asInstanceOf[Int] % 4096 ==
      Integer.parseInt("1777", 8))
  }

  test("a FileContext rename onto an existing path still fails unless told to overwrite") {
    val d = dir()
    val fc = FileContext.getLocalFSFileContext(conf)
    Files.write(d.resolve("a"), "a".getBytes)
    Files.write(d.resolve("b"), "b".getBytes)
    intercept[FileAlreadyExistsException](fc.rename(hp(d.resolve("a")), hp(d.resolve("b"))))
    assert(new String(Files.readAllBytes(d.resolve("b"))) == "b")
    fc.rename(hp(d.resolve("a")), hp(d.resolve("b")), Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(d.resolve("b"))) == "a")
    assert(!Files.exists(d.resolve("a")))
    fc.rename(hp(d.resolve("b")), hp(d.resolve("c")))
    assert(Files.exists(d.resolve("c")) && !Files.exists(d.resolve("b")))
    intercept[java.io.FileNotFoundException](
      fc.rename(hp(d.resolve("gone")), hp(d.resolve("d"))))
  }

  test("a real symlink still reports isSymlink; a plain file and a missing path do not lie") {
    val d = dir()
    val target = Files.write(d.resolve("target"), "t".getBytes)
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val fs = FileSystem.getLocal(conf)
    val st = fs.getFileLinkStatus(hp(link))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val plain = fs.getFileLinkStatus(hp(target))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L)
    assert(fs.getFileLinkStatus(hp(d)).isDirectory)
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(hp(d.resolve("missing"))))
  }
}
