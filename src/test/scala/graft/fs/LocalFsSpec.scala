package graft.fs

import java.io.{FileNotFoundException, IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission

/** Parity of the engine's `file:` filesystem ([[NioRawLocalFileSystem]]
  * and its wrappers) with Hadoop's stock local filesystem: the same
  * permission bits after every create, mkdir and chmod, the same link
  * status for every kind of path, checksums still verified, and the
  * session conf resolving `file:` to the engine classes. */
class LocalFsSpec extends SparkSuite {
  private val local = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(local, new Configuration()); fs }
  private def fileContext(nio: Boolean): FileContext = {
    val conf = new Configuration()
    if (nio) conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    FileContext.getFileContext(local, conf)
  }

  /** Every entry under `root` with its permission bits as Hadoop reads
    * them (sticky bit included). */
  private def modes(root: JPath): Map[String, String] = {
    val fs = init(new RawLocalFileSystem)
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        fs.getFileLinkStatus(new Path(p.toString)).getPermission.toString
    }.toMap
  }

  private val explicit = Seq("600", "700", "755").map(m => new FsPermission(m))

  /** The writes whose permissions are compared, each into a fresh dir. */
  private def writeAll(fs: FileSystem, root: JPath): Unit = {
    def p(n: String) = new Path(root.resolve(n).toString)
    fs.create(p("default-file")).close()
    fs.mkdirs(p("default-dir/sub"))
    explicit.foreach { perm =>
      fs.create(p(s"file-$perm"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(p(s"dir-$perm"), perm)
      fs.create(p(s"chmod-$perm")).close()
      fs.setPermission(p(s"chmod-$perm"), perm)
    }
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), new FsPermission("1777"))
  }

  test("create, mkdirs and setPermission leave the stock permission bits") {
    for ((stock, nio) <- Seq(
        init(new RawLocalFileSystem) -> init(new NioRawLocalFileSystem),
        init(new LocalFileSystem) -> init(new NioLocalFileSystem))) {
      val (a, b) = (Files.createTempDirectory("localfs-stock"), Files.createTempDirectory("localfs-nio"))
      writeAll(stock, a)
      writeAll(nio, b)
      val want = modes(a)
      assert(modes(b) == want, s"${nio.getClass.getSimpleName} vs ${stock.getClass.getSimpleName}")
      assert(want("file-rw-------") == "rw-------" && want("dir-rwxr-xr-x") == "rwxr-xr-x")
      assert(want("default-file") == "rw-r--r--" && want("sticky") == "rwxrwxrwt")
      if (stock.isInstanceOf[LocalFileSystem]) assert(want.contains(".file-rw-------.crc"))
    }
  }

  test("FileContext create and mkdir leave the stock permission bits") {
    def writeAll(fc: FileContext, root: JPath): Unit = explicit.foreach { perm =>
      val dir = new Path(root.resolve(s"dir-$perm").toUri)
      fc.mkdir(dir, perm, true)
      fc.create(new Path(dir, "f"), EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(perm)).close()
    }
    val (a, b) = (Files.createTempDirectory("localfs-stock"), Files.createTempDirectory("localfs-nio"))
    writeAll(fileContext(nio = false), a)
    writeAll(fileContext(nio = true), b)
    val want = modes(a)
    assert(modes(b) == want)
    assert(want("dir-rwx------/f") == "rwx------" && want("dir-rwx------/.f.crc") == "rwx------")
  }

  test("getFileLinkStatus and getLinkTarget match stock on every kind of path") {
    val root = Files.createTempDirectory("localfs-links")
    Files.write(root.resolve("file"), "abc".getBytes)
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("relative-link"), root.getFileSystem.getPath("dir"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    def outcome(body: => Any): String =
      try body.toString
      catch { case e: IOException => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val stock = init(new RawLocalFileSystem)
    val nio = init(new NioRawLocalFileSystem)
    val (stockFc, nioFc) = (fileContext(nio = false), fileContext(nio = true))
    val names = Seq("file", "dir", "link", "relative-link", "dangling", "missing")
    for (name <- names; qualified <- Seq(false, true)) {
      val jp = root.resolve(name)
      val path = if (qualified) new Path(jp.toUri) else new Path(jp.toString)
      val what = s"$name (${if (qualified) "qualified" else "bare"})"
      assert(outcome(nio.getFileLinkStatus(path)) == outcome(stock.getFileLinkStatus(path)), what)
      assert(outcome(nio.getLinkTarget(path)) == outcome(stock.getLinkTarget(path)), what)
      assert(outcome(nioFc.getFileLinkStatus(path)) == outcome(stockFc.getFileLinkStatus(path)), what)
    }
    // the cases are not vacuous: links read as links on bare paths only
    // (the stock code reads `Path.toString`), and a missing path throws
    def bare(n: String) = new Path(root.resolve(n).toString)
    assert(nio.getFileLinkStatus(bare("link")).getSymlink == new Path(root.resolve("file").toUri))
    assert(nio.getLinkTarget(bare("relative-link")) == new Path("dir"))
    assert(nio.getFileLinkStatus(bare("dangling")).isSymlink)
    assert(!nio.getFileLinkStatus(new Path(root.resolve("link").toUri)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(bare("missing")))
  }

  test("checksums are written and a corrupted byte fails the read as in stock") {
    val root = Files.createTempDirectory("localfs-crc")
    val payload = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    /** Writes the payload, reads it back clean, flips one byte and
      * reads again: the outcome of the second read. */
    def corruptedRead(name: String, create: Path => java.io.OutputStream,
        open: Path => java.io.InputStream): String = {
      val path = new Path(root.resolve(name).toUri)
      def readAll(): Unit = { val in = open(path); try in.readAllBytes() finally in.close() }
      val out = create(path)
      try out.write(payload) finally out.close()
      assert(Files.exists(root.resolve(s".$name.crc")), s"no checksum sidecar for $name")
      readAll()
      val raf = new RandomAccessFile(root.resolve(name).toFile, "rw")
      try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0x5a) } finally raf.close()
      try { readAll(); "read" } catch { case e: IOException => e.getClass.getSimpleName }
    }
    for ((label, fs) <- Seq("stock" -> init(new LocalFileSystem), "nio" -> init(new NioLocalFileSystem)))
      assert(corruptedRead(s"fs-$label", fs.create(_), fs.open(_)) ==
        classOf[ChecksumException].getSimpleName, label)
    // FileContext (Spark's checkpoint files): whatever stock LocalFs
    // does with the corrupted file, the engine's ChecksumFs does too
    val Seq(stock, nio) = Seq(false, true).map { n =>
      val fc = fileContext(nio = n)
      corruptedRead(s"fc-$n", fc.create(_, EnumSet.of(CreateFlag.CREATE)), fc.open(_))
    }
    assert(nio == stock)
  }

  test("Sessions.local resolves file: to the engine classes in both Hadoop APIs") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      // newInstance: FileSystem.get's cache is keyed without the conf
      val fs = FileSystem.newInstance(local, conf)
      try assert(fs.getClass == classOf[NioLocalFileSystem]) finally fs.close()
      assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    }
  }
}
