package graft.lake

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[NioLocalFileSystem]] leaves exactly the mode bits Hadoop's stock
  * `LocalFileSystem` leaves: the same operations run on both under twin
  * roots, then every path's full mode (`unix:mode`, special bits
  * included) is compared.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with Matchers {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Run `ops` against the NIO and the stock file system, each under its
    * own fresh root, and return (relative path, nio mode, stock mode) for
    * every path either left behind.
    */
  private def twin(umask: String)(ops: (FileSystem, String) => Unit)
      : Seq[(String, Int, Int)] = {
    val roots = Seq(new NioLocalFileSystem, new LocalFileSystem).map { fs =>
      val root = Files.createTempDirectory("nio-parity").toString
      val f = init(fs, conf(umask))
      try ops(f, root) finally f.close()
      root
    }
    def walk(root: String): Seq[String] = {
      val s = Files.walk(Paths.get(root))
      try s.toArray.toSeq.map(p => Paths.get(root).relativize(
        p.asInstanceOf[java.nio.file.Path]).toString)
      finally s.close()
    }
    val Seq(nio, stock) = roots
    walk(nio) shouldBe walk(stock)
    walk(nio).filter(_.nonEmpty).map(rel =>
      (rel, mode(s"$nio/$rel"), mode(s"$stock/$rel")))
  }

  private def assertParity(got: Seq[(String, Int, Int)]): Unit = {
    got should not be empty
    got.foreach { case (rel, nio, stock) =>
      withClue(f"$rel: nio 0$nio%o vs stock 0$stock%o") { nio shouldBe stock }
    }
  }

  for (umask <- Seq("022", "077")) {
    test(s"create and mkdirs (with .crc sidecars) match stock bits, umask $umask") {
      val got = twin(umask) { (fs, root) =>
        fs.mkdirs(new Path(s"$root/a/b/c"))
        fs.mkdirs(new Path(s"$root/d"), new FsPermission("750"))
        val out = fs.create(new Path(s"$root/a/b/c/part-0.parquet"))
        out.write(Array[Byte](1, 2, 3))
        out.close()
        fs.create(new Path(s"$root/e/f/_SUCCESS")).close()
      }
      got.map(_._1) should contain("a/b/c/.part-0.parquet.crc")
      assertParity(got)
    }
  }

  test("explicit setPermission to 0600 and 0700 matches stock bits") {
    assertParity(twin("022") { (fs, root) =>
      fs.create(new Path(s"$root/state.delta")).close()
      fs.mkdirs(new Path(s"$root/ckpt"))
      fs.setPermission(new Path(s"$root/state.delta"), new FsPermission("600"))
      fs.setPermission(new Path(s"$root/ckpt"), new FsPermission("700"))
    })
  }

  test("bits NIO cannot express take the stock path: sticky, and a " +
      "setgid directory") {
    val got = twin("022") { (fs, root) =>
      fs.mkdirs(new Path(s"$root/shared"))
      fs.setPermission(new Path(s"$root/shared"), new FsPermission("1777"))
      fs.mkdirs(new Path(s"$root/group"))
      Files.setAttribute(Paths.get(s"$root/group"), "unix:mode", octal("2755"))
      fs.setPermission(new Path(s"$root/group"), new FsPermission("750"))
    }
    val modes = got.map { case (rel, nio, _) => rel -> nio }.toMap
    modes("shared") shouldBe octal("1777")
    modes("group") & octal("2000") should not be 0
    assertParity(got)
  }

  test("FileSystem.getLocal still casts when fs.file.impl names the NIO class") {
    val c = conf("022")
    c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.getLocal(c) shouldBe a[NioLocalFileSystem]
  }
}
