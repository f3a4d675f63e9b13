package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sink.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem,
  NioRawLocalFs}

/** The engine's `file:` binding (graft.sink.NioLocalFs): the sessions
  * resolve `file:` to the NIO classes, and those write the same modes
  * and answer link queries exactly as Hadoop's stock local classes. */
class LocalFsSpec extends SparkSpecBase {

  private val Root = new URI("file:///")

  private def fsConfs(stock: Boolean): Map[String, String] = Map(
    "fs.file.impl" ->
      (if (stock) classOf[LocalFileSystem] else classOf[NioLocalFileSystem]).getName,
    "fs.AbstractFileSystem.file.impl" ->
      (if (stock) "org.apache.hadoop.fs.local.LocalFs" else classOf[NioLocalFs].getName),
    // A fresh instance per lookup: a cached one keeps the conf (and the
    // umask) it was made with.
    "fs.file.impl.disable.cache" -> "true")

  /** Run `f` with `confs` set on the session (they reach every Hadoop
    * conf the session hands a write), restoring the previous values. */
  private def withConfs[T](confs: Map[String, String])(f: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Relative path → (full st_mode, bytes) of everything under `dir`,
    * with the write's job UUID masked out of file names. */
  private def tree(dir: JPath): Map[String, (Int, Seq[Byte])] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val walk = Files.walk(dir)
    try {
      val b = Map.newBuilder[String, (Int, Seq[Byte])]
      walk.forEach { p =>
        val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
        val bytes =
          if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
        b += uuid.replaceAllIn(dir.relativize(p).toString, "UUID") ->
          (mode, bytes)
      }
      b.result()
    } finally walk.close()
  }

  private def chmod(mode: String, p: JPath): Unit =
    assert(new ProcessBuilder("chmod", mode, p.toString).start().waitFor() == 0)

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  test("file: resolves to the NIO classes, in the test session and in SparkEnv.session") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(Root, conf)
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(Root, conf).getDefaultFileSystem
    assert(afs.getClass == classOf[NioLocalFs])
    assert(afs.asInstanceOf[org.apache.hadoop.fs.ChecksumFs].getRawFs.getClass ==
      classOf[NioRawLocalFs])

    // SparkEnv.session builds a SparkContext, so it runs in a JVM of its
    // own: LocalFsSpecSessionMain prints what its session resolves.
    val scratch = Files.createTempDirectory("graft_localfs_env")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-Xmx512m") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.LocalFsSpecSessionMain")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_SCRATCH", scratch.toString)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out)
    val lines = out.linesIterator.toSet
    assert(lines.contains(s"fs ${classOf[NioLocalFileSystem].getName}"), out)
    assert(lines.contains(s"afs ${classOf[NioLocalFs].getName}"), out)
  }

  test("a partitioned parquet write and FileContext create/mkdir/rename leave the stock modes and bytes") {
    import spark.implicits._
    val df = Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "x")).toDF("id", "v", "p")
      .repartition(2)
    for (umask <- Seq(None, Some("077"))) {
      val trees = Seq(true, false).map { stock =>
        val root = Files.createTempDirectory("graft_localfs_modes")
        val confs = fsConfs(stock) ++
          umask.map("fs.permissions.umask-mode" -> _)
        withConfs(confs) {
          val hconf = spark.sessionState.newHadoopConf()
          assert(FileSystem.get(Root, hconf).getClass ==
            (if (stock) classOf[LocalFileSystem] else classOf[NioLocalFileSystem]))
          df.write.partitionBy("p").parquet(root.resolve("t").toString)

          val fc = FileContext.getFileContext(Root, hconf)
          val dir = new Path(root.resolve("ckpt/offsets").toUri)
          fc.mkdir(dir, FsPermission.getDirDefault, true)
          val tmp = new Path(dir, ".0.tmp")
          val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          try out.write("v1\n{}".getBytes("UTF-8")) finally out.close()
          fc.rename(tmp, new Path(dir, "0"), Options.Rename.OVERWRITE)
        }
        tree(root)
      }
      assert(trees(0).nonEmpty)
      assert(trees(0).keySet == trees(1).keySet, umask)
      trees(0).keys.foreach { k =>
        assert(trees(0)(k)._1 == trees(1)(k)._1,
          f"$k under umask $umask: stock ${trees(0)(k)._1}%o, nio ${trees(1)(k)._1}%o")
        assert(trees(0)(k)._2 == trees(1)(k)._2, s"$k bytes under umask $umask")
      }
      if (umask.nonEmpty)
        assert(trees(0).exists { case (k, (m, _)) =>
          k.endsWith(".parquet") && (m & oct("777")) == oct("600") }, "no 0600 part file")
    }
  }

  test("sticky and setgid modes round-trip as with the stock setter") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem(); stock.initialize(Root, conf)
    val nio = new NioRawLocalFileSystem(); nio.initialize(Root, conf)
    def set(fs: RawLocalFileSystem, p: JPath, m: Int): Int = {
      fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
      mode(p)
    }
    for ((fs, name) <- Seq(stock -> "stock", nio -> "nio")) {
      val root = Files.createTempDirectory(s"graft_localfs_special_$name")
      val d = Files.createDirectory(root.resolve("d"))
      val f = Files.createFile(root.resolve("f"))
      assert(set(fs, d, oct("1777")) == oct("1777"), name) // sticky kept
      // FsPermission keeps no setuid bit: 04755 reaches either setter as 0755.
      assert(set(fs, f, oct("4755")) == oct("755"), name)
      // A dir that carries setgid (as under a setgid parent) keeps it
      // through `chmod 0750`.
      chmod("2755", d)
      assert(set(fs, d, oct("750")) == oct("2750"), name)
      chmod("00755", d) // GNU chmod clears a dir's setgid only so
      assert(set(fs, d, oct("750")) == oct("750"), name)
    }
  }

  test("getFileLinkStatus and getLinkTarget answer as the stock class") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem(); stock.initialize(Root, conf)
    val nio = new NioRawLocalFileSystem(); nio.initialize(Root, conf)
    val root = Files.createTempDirectory("graft_localfs_links")
    val file = Files.write(root.resolve("file"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), Paths.get("file"))
    val dirLink = Files.createSymbolicLink(root.resolve("dirlink"), dir)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"),
      root.resolve("gone"))
    val missing = root.resolve("missing")

    def describe(s: FileStatus): Seq[Any] = Seq(s.getPath, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
      s.getReplication, s.getBlockSize, s.getModificationTime,
      s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)
    def answer[T](f: => T): Either[Class[_], T] =
      try Right(f) catch { case e: java.io.IOException => Left(e.getClass) }

    val paths = Seq(file, dir, link, dirLink, dangling, missing)
    // Unqualified paths are where the stock class sees a link at all;
    // with a scheme it reads every path as a plain one.
    for (p <- paths; hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(answer(describe(nio.getFileLinkStatus(hp))) ==
        answer(describe(stock.getFileLinkStatus(hp))), hp)
      assert(answer(nio.getLinkTarget(hp)) == answer(stock.getLinkTarget(hp)), hp)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(answer(nio.getFileLinkStatus(new Path(missing.toString))) ==
      Left(classOf[FileNotFoundException]))

    // The FileContext route (DelegateToFileSystem) agrees too.
    val stockFc = FileContext.getFileContext(Root, {
      val c = new Configuration(); c.set("fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.LocalFs"); c })
    val nioFc = FileContext.getFileContext(Root, {
      val c = new Configuration(); c.set("fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName); c })
    for (p <- paths; hp = new Path(p.toString))
      assert(answer(describe(nioFc.getFileLinkStatus(hp))) ==
        answer(describe(stockFc.getFileLinkStatus(hp))), hp)
  }
}

/** Prints the `file:` classes `SparkEnv.session` resolves (LocalFsSpec). */
object LocalFsSpecSessionMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEnv.session("1")
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new URI("file:///")
      println(s"fs ${FileSystem.get(root, conf).getClass.getName}")
      println(s"afs ${FileContext.getFileContext(root, conf)
        .getDefaultFileSystem.getClass.getName}")
    } finally spark.stop()
  }
}
