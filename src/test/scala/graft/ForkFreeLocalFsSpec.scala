package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, Hfs}
import scala.jdk.CollectionConverters._

/** The fork-free `file:` filesystem: a differential check against the
  * stock LocalFileSystem/LocalFs (same files, same permissions, same
  * `.crc` sidecars, same link status, same rename semantics), and a
  * guard that a session's local file work starts no OS process. */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def tmp(name: String): JPath =
    Files.createTempDirectory(graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), s"graft-$name")

  private val stockBinding = Seq(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)

  private def confWith(binding: Seq[(String, String)]): Configuration = {
    val c = new Configuration()
    binding.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** An uncached `file:` FileSystem of each binding. */
  private def withBoth(body: (FileSystem, JPath) => Unit): (Tree, Tree) = {
    def one(binding: Seq[(String, String)], name: String): Tree = {
      val fs = FileSystem.newInstance(URI.create("file:///"), confWith(binding))
      val root = tmp(name)
      try body(fs, root) finally fs.close()
      tree(root)
    }
    (one(stockBinding, "stock"), one(ForkFreeLocalFs.hadoopConf, "forkfree"))
  }

  /** Every path under `root` (relative) with its POSIX permissions and,
    * for files, its bytes. */
  private type Tree = Map[String, (String, Option[Seq[Byte]])]
  private def tree(root: JPath): Tree =
    Files.walk(root).iterator().asScala.filterNot(_ == root).map { p =>
      root.relativize(p).toString ->
        (java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
          if (Files.isRegularFile(p)) Some(Files.readAllBytes(p).toSeq) else None)
    }.toMap

  /** `body` over [[LocalSession]], which re-configures the shared test
    * session: its runtime SQL conf is put back afterwards. */
  private def withLocalSession[T](body: org.apache.spark.sql.SparkSession => T): T = {
    val spark = LocalSession("4")
    val before = spark.conf.getAll
    try body(spark) finally {
      val after = spark.conf.getAll
      after.keySet.diff(before.keySet).foreach(spark.conf.unset)
      before.foreach { case (k, v) => if (!after.get(k).contains(v)) spark.conf.set(k, v) }
    }
  }

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  test("the session binding resolves file: to the fork-free classes") {
    val c = confWith(ForkFreeLocalFs.hadoopConf)
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    try {
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    } finally fs.close()
    assert(FileContext.getFileContext(URI.create("file:///"), c)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("files and nested mkdirs get the stock permissions after the umask") {
    val (stock, free) = withBoth { (fs, root) =>
      val r = new Path(root.toUri)
      write(fs, new Path(r, "a/b/c/part-0"), "x")
      fs.mkdirs(new Path(r, "d/e/f"))
      fs.mkdirs(new Path(r, "g/h"), new org.apache.hadoop.fs.permission.FsPermission("750"))
      write(fs, new Path(r, "g/h/f"), "y")
      fs.setPermission(new Path(r, "g/h/f"), new org.apache.hadoop.fs.permission.FsPermission("600"))
    }
    assert(stock.keySet.contains("a/b/c/.part-0.crc"))
    assert(stock("d/e/f")._1 == "rwxr-xr-x", stock)
    assert(stock("g/h")._1 == "rwxr-x---", stock)
    assert(free == stock)
  }

  test(".crc sidecars are created and deleted with their files") {
    val (stock, free) = withBoth { (fs, root) =>
      val r = new Path(root.toUri)
      write(fs, new Path(r, "keep"), "k")
      write(fs, new Path(r, "gone"), "g")
      write(fs, new Path(r, "dir/inner"), "i")
      assert(fs.delete(new Path(r, "gone"), false))
      assert(fs.delete(new Path(r, "dir"), true))
    }
    assert(stock.keySet == Set("keep", ".keep.crc"))
    assert(free == stock)
  }

  test("getFileLinkStatus on a file, a directory and a symlink") {
    def statuses(fs: FileSystem, root: JPath): Seq[Any] = {
      val f = root.resolve("file"); Files.writeString(f, "abc")
      val d = Files.createDirectory(root.resolve("dir"))
      val l = Files.createSymbolicLink(root.resolve("link"), f)
      Seq(f, d, l).map { p =>
        val st = fs.getFileLinkStatus(new Path(p.toString))
        (p.getFileName.toString, st.isFile, st.isDirectory, st.isSymlink,
          if (st.isSymlink) root.relativize(JPath.of(st.getSymlink.toUri.getPath)).toString
          else st.getLen)
      }
    }
    var got = Map.empty[String, Seq[Any]]
    withBoth { (fs, root) => got += fs.getClass.getSimpleName -> statuses(fs, root) }
    val stock = got("LocalFileSystem")
    assert(stock.map(_.asInstanceOf[Product].productElement(3)) == Seq(false, false, true))
    // the link's target is kept, not dereferenced
    assert(stock(2) == (("link", false, false, true, "file")))
    assert(got("ForkFreeLocalFileSystem") == stock)
  }

  test("FileContext.rename(OVERWRITE) replaces the file and its .crc") {
    def run(binding: Seq[(String, String)], name: String): Tree = {
      val root = tmp(name)
      val c = confWith(binding)
      val fs = FileSystem.newInstance(URI.create("file:///"), c)
      try {
        val src = new Path(root.resolve("src").toUri)
        val dst = new Path(root.resolve("dst").toUri)
        write(fs, dst, "old contents")
        write(fs, src, "new")
        FileContext.getFileContext(URI.create("file:///"), c)
          .rename(src, dst, Options.Rename.OVERWRITE)
        assert(!fs.exists(src))
      } finally fs.close()
      tree(root)
    }
    val stock = run(stockBinding, "rn-stock")
    assert(stock.keySet == Set("dst", ".dst.crc"))
    assert(run(ForkFreeLocalFs.hadoopConf, "rn-free") == stock)
  }

  test("Hfs.writeStringAtomic leaves the same marker as over the stock filesystem") {
    withLocalSession { spark =>
      val hc = spark.sparkContext.hadoopConfiguration
      def run(binding: Seq[(String, String)], name: String): Tree = {
        val keys = binding.map(_._1) :+ "fs.file.impl.disable.cache"
        val saved = keys.map(k => k -> Option(hc.getRaw(k)))
        (binding :+ ("fs.file.impl.disable.cache" -> "true")).foreach { case (k, v) => hc.set(k, v) }
        val root = tmp(name)
        try {
          val marker = new Path(root.resolve("store/CURRENT").toUri)
          val fs = Hfs.fs(marker)
          try assert(fs.getClass.getName == binding.head._2) finally fs.close()
          Hfs.writeStringAtomic(marker, "gen=0")
          Hfs.writeStringAtomic(marker, "gen=1")
          assert(Hfs.readString(marker) == "gen=1")
        } finally saved.foreach {
          case (k, Some(v)) => hc.set(k, v)
          case (k, None) => hc.unset(k)
        }
        tree(root)
      }
      val stock = run(stockBinding, "hfs-stock")
      assert(stock.keySet == Set("store", "store/CURRENT", "store/.CURRENT.crc"))
      assert(run(ForkFreeLocalFs.hadoopConf, "hfs-free") == stock)
    }
  }

  /** Threads started under a Hadoop `Shell` or JDK process-launch frame
    * while `body` runs, from an in-process JFR recording: `Shell` starts
    * a stderr reader thread for every command it forks. */
  private def processLaunches(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ThreadStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile(tmp("jfr"), "launches", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq.flatMap { e =>
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .find(m => m.startsWith("org.apache.hadoop.util.Shell") ||
            m.startsWith("java.lang.ProcessImpl") || m.startsWith("java.lang.ProcessBuilder"))
      }
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("a session's local file work starts no OS process") {
    // Hadoop's one start-up probe (Shell's class initialiser) is not
    // per-operation work: run it before recording
    Class.forName("org.apache.hadoop.util.Shell", true, getClass.getClassLoader)
    // the recorder sees a fork: the stock filesystem's chmod
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    val probe = tmp("probe").resolve("f"); Files.writeString(probe, "p")
    assert(processLaunches(stock.setPermission(new Path(probe.toString),
      new org.apache.hadoop.fs.permission.FsPermission("600"))).nonEmpty)

    withLocalSession { spark =>
      val root = tmp("guard")
      val launches = processLaunches {
        val base = new Path(root.resolve("store").toUri)
        val fs = Hfs.fs(base)
        assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
        Hfs.writeString(new Path(base, "a"), "a")
        fs.mkdirs(new Path(base, "x/y/z"))
        Hfs.writeStringAtomic(new Path(base, "CURRENT"), "a")
        assert(fs.rename(new Path(base, "a"), new Path(base, "x/b")))
        assert(Hfs.delete(new Path(base, "x")))
        spark.range(20).write.parquet(root.resolve("pq").toString)
        val in = root.resolve("in").toString
        Seq("1", "2").foreach { k =>
          spark.range(4).select(lit(k).as("key"), col("id").cast("string").as("v"), col("id"))
            .coalesce(1).write.mode("append").parquet(in)
        }
        val src = spark.readStream.schema("key STRING, v STRING, id LONG")
          .option("maxFilesPerTrigger", "1").parquet(in)
        graft.streaming.StreamPublish.publishStream(src, root.resolve("out").toString,
          root.resolve("ckpt").toString, "key", Seq("v"), Seq(col("id"))).awaitTermination()
        assert(graft.streaming.StreamPublish.readCurrent(spark, root.resolve("out").toString)
          .count() == 2)
      }
      assert(launches.isEmpty, launches)
    }
  }
}
