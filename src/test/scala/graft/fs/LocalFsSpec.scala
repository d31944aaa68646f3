package graft.fs

import graft.{Sessions, SparkSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The session's `file://` filesystem against stock Hadoop: the same modes
  * on disk, the same permission, owner and group in every status, and the
  * same checksum sidecars. Both filesystems are fresh instances on copied
  * confs, so the parity cases do not depend on Hadoop's `FileSystem` cache.
  */
class LocalFsSpec extends AnyFunSuite {

  private val base = new Configuration()

  private def newFs(impl: Class[_], umask: String): FileSystem = {
    val conf = new Configuration(base)
    conf.set("fs.file.impl", impl.getName)
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  /** Runs `body` on (graft, stock) and closes both. */
  private def withBoth[T](umask: String)(body: (FileSystem, FileSystem) => T): T = {
    val nio = newFs(classOf[NioLocalFileSystem], umask)
    val stock = newFs(classOf[LocalFileSystem], umask)
    try {
      assert(nio.isInstanceOf[NioLocalFileSystem])
      assert(stock.getClass == classOf[LocalFileSystem])
      body(nio, stock)
    } finally { nio.close(); stock.close() }
  }

  /** Relative path and mode of everything under `root`, root included. */
  private def modes(root: java.nio.file.Path): Seq[String] =
    Files.walk(root).iterator().asScala.toSeq.sortBy(_.toString).map { p =>
      s"/${root.relativize(p)} ${PosixFilePermissions.toString(Files.getPosixFilePermissions(p))}"
    }

  /** A restructure-shaped tree: nested partition dirs, one part file. */
  private def writeTree(fs: FileSystem, root: java.nio.file.Path): Unit = {
    val bin = new Path(root.toUri.toString, "_project=p/_user=u/_bin=20200101_00")
    assert(fs.mkdirs(bin))
    val out = fs.create(new Path(bin, "part-00000.csv.gz"))
    try out.write("a,b\n1,2\n".getBytes("UTF-8")) finally out.close()
  }

  for ((umask, dirMode, fileMode) <- Seq(
      ("022", "rwxr-xr-x", "rw-r--r--"), ("077", "rwx------", "rw-------")))
    test(s"create and nested mkdirs give the stock modes under umask $umask") {
      withBoth(umask) { (nio, stock) =>
        val tmp = Files.createTempDirectory("graft-localfs-modes")
        writeTree(nio, tmp.resolve("nio"))
        writeTree(stock, tmp.resolve("stock"))
        val got = modes(tmp.resolve("nio"))
        assert(got == modes(tmp.resolve("stock")))
        // the umask really applied: every dir and file, the .crc included
        assert(got.count(_.endsWith(dirMode)) == 4)
        assert(got.count(_.endsWith(fileMode)) == 2)
        assert(got.exists(_.contains("/.part-00000.csv.gz.crc ")))
      }
    }

  test("setPermission keeps bits outside 0777 as stock does (sticky bit)") {
    withBoth("022") { (nio, stock) =>
      val tmp = Files.createTempDirectory("graft-localfs-sticky")
      val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
      for ((fs, name) <- Seq(nio -> "nio", stock -> "stock")) {
        Files.createDirectory(tmp.resolve(name))
        fs.setPermission(new Path(tmp.resolve(name).toUri.toString), sticky)
      }
      def mode(name: String) =
        Files.getAttribute(tmp.resolve(name), "unix:mode", LinkOption.NOFOLLOW_LINKS)
      assert(mode("nio") == mode("stock"))
      assert(nio.getFileStatus(new Path(tmp.resolve("nio").toUri.toString)).getPermission == sticky)
      assert(stock.getFileStatus(new Path(tmp.resolve("stock").toUri.toString)).getPermission == sticky)
    }
  }

  test("listStatus, listFiles and getFileStatus report the stock permission, owner and group") {
    withBoth("022") { (nio, stock) =>
      val tmp = Files.createTempDirectory("graft-localfs-status")
      writeTree(stock, tmp)
      val bin = tmp.resolve("_project=p/_user=u/_bin=20200101_00")
      Files.write(bin.resolve("private.csv"), Array[Byte](1, 2, 3))
      Files.setPosixFilePermissions(bin.resolve("private.csv"),
        PosixFilePermissions.fromString("rw-------"))
      Files.createSymbolicLink(bin.resolve("link.csv"), bin.resolve("private.csv"))
      Files.createDirectory(bin.resolve("sub"))
      val dir = new Path(bin.toUri.toString)
      def view(st: FileStatus) = (st.getPath.getName, st.isDirectory, st.getLen,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
      def listing(fs: FileSystem) = fs.listStatus(dir).map(view).sortBy(_._1).toSeq
      def located(fs: FileSystem) = {
        val it = fs.listFiles(new Path(tmp.toUri.toString), true)
        Iterator.continually(it).takeWhile(_.hasNext).map(i => view(i.next())).toSeq.sortBy(_._1)
      }
      assert(listing(nio) == listing(stock))
      assert(listing(nio).map(_._1) == Seq("link.csv", "part-00000.csv.gz", "private.csv", "sub"))
      assert(listing(nio).find(_._1 == "private.csv").get._5.toString == "rw-------")
      // a link reports its target's permission, as stock does
      assert(listing(nio).find(_._1 == "link.csv").get._5.toString == "rw-------")
      assert(located(nio) == located(stock))
      assert(located(nio).size == 3)
      for (p <- Seq(dir, new Path(dir, "private.csv"), new Path(dir, "link.csv"))) {
        assert(view(nio.getFileStatus(p)) == view(stock.getFileStatus(p)))
        assert(nio.listStatus(p).map(view).toSeq == stock.listStatus(p).map(view).toSeq)
      }
      val owner = Files.getOwner(bin).getName
      assert(nio.getFileStatus(dir).getOwner == owner)
    }
  }

  test("checksums: a .crc sidecar is written and a flipped data byte fails the read") {
    withBoth("022") { (nio, _) =>
      val tmp = Files.createTempDirectory("graft-localfs-crc")
      val p = new Path(tmp.toUri.toString, "data.bin")
      val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
      val out = nio.create(p)
      try out.write(bytes) finally out.close()
      assert(Files.exists(tmp.resolve(".data.bin.crc")))
      val back = new Array[Byte](bytes.length)
      val in0 = nio.open(p)
      try in0.readFully(back) finally in0.close()
      assert(back.sameElements(bytes))

      val raw = Files.readAllBytes(tmp.resolve("data.bin"))
      raw(1000) = (raw(1000) ^ 0xff).toByte
      Files.write(tmp.resolve("data.bin"), raw)
      val in1 = nio.open(p)
      try intercept[ChecksumException](in1.readFully(new Array[Byte](bytes.length)))
      finally in1.close()
    }
  }

  /** A FileContext on `file://` bound to `impl`, under `umask`. */
  private def fileContext(impl: Option[Class[_]], umask: String): FileContext = {
    val conf = new Configuration(base)
    impl.foreach(c => conf.set("fs.AbstractFileSystem.file.impl", c.getName))
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(new URI("file:///"), conf)
  }

  /** The tree of [[writeTree]], through `FileContext` as a streaming
    * checkpoint writes it. */
  private def writeTree(fc: FileContext, root: java.nio.file.Path): Unit = {
    val bin = new Path(root.toUri.toString, "offsets/sub")
    fc.mkdir(bin, FsPermission.getDirDefault, true)
    val out = fc.create(new Path(bin, "0"), java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    try out.write("v1\n{}\n".getBytes("UTF-8")) finally out.close()
  }

  for ((umask, dirMode, fileMode) <- Seq(
      ("022", "rwxr-xr-x", "rw-r--r--"), ("077", "rwx------", "rw-------")))
    test(s"FileContext create and mkdir give the stock modes and a .crc under umask $umask") {
      val nio = fileContext(Some(classOf[NioLocalFs]), umask)
      val stock = fileContext(None, umask)
      assert(nio.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      assert(stock.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
      val tmp = Files.createTempDirectory("graft-localfs-fc")
      writeTree(nio, tmp.resolve("nio"))
      writeTree(stock, tmp.resolve("stock"))
      val got = modes(tmp.resolve("nio"))
      assert(got == modes(tmp.resolve("stock")))
      assert(got.count(_.endsWith(dirMode)) == 3)
      assert(got.count(_.endsWith(fileMode)) == 2)
      assert(got.exists(_.contains("/offsets/sub/.0.crc ")))
    }

  test("graft sessions run file:// on the graft filesystem") {
    assert(Sessions.hadoopConf.contains(
      "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    // the cached instance every spec's file:// lookup resolves to
    assert(new Path("file:///").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    // and the FileContext binding
    assert(Sessions.hadoopConf.contains(
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName))
    assert(AbstractFileSystem.get(new URI("file:///"), conf).isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
