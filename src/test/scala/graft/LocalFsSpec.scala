package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.util.LocalFs
import graft.warehouse.{Merge, Versioned, Writer}

/** [[graft.util.LocalFs]] is the stock checksummed local filesystem
  * with in-process permission sets: the same modes and `.crc`
  * sidecars, output any stock handle reads back, and no permission set
  * left to Hadoop's forking path — task-side writes included. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def handle(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def perms(f: File): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(f.toPath))

  private def filesUnder(root: File): Seq[File] =
    if (root.isDirectory) root.listFiles().toSeq.flatMap(filesUnder)
    else Seq(root)

  /** Runs one lake write and checks that it set at least as many
    * permissions through NIO as it left new files under `root`, and
    * handed none to Hadoop's own path. A write whose tasks or handles
    * miss [[LocalFs.options]] creates its files through the session's
    * stock handle, which these counters do not see. */
  private def viaNio(root: File, what: String)(write: => Unit): Unit = {
    val before = filesUnder(root).toSet
    val (nio0, fb0) = (LocalFs.nioSets.get, LocalFs.fallbacks.get)
    write
    val made = filesUnder(root).filterNot(before)
    val nio = LocalFs.nioSets.get - nio0
    assert(LocalFs.fallbacks.get - fb0 == 0, s"$what: permission sets fell back")
    assert(made.nonEmpty && nio >= made.size,
      s"$what: $nio NIO permission sets for ${made.size} new files")
  }

  test("files, directories and .crc sidecars get the stock " +
      "filesystem's permissions under the same umask") {
    val base = tmpDir("graft_localfs_perms")
    val nio0 = LocalFs.nioSets.get
    for (umask <- Seq("022", "077"); (tag, fs) <- Seq(
        "stock" -> handle(new LocalFileSystem(), umask),
        "ours" -> handle(new LocalFs(), umask))) {
      val dir = new Path(s"$base/$umask/$tag")
      assert(fs.mkdirs(new Path(dir, "a/b")))
      for (name <- Seq("f", "g")) {
        val out = fs.create(new Path(dir, s"a/$name"))
        try out.write("payload".getBytes("UTF-8")) finally out.close()
      }
      fs.setPermission(new Path(dir, "a/g"),
        new FsPermission(Integer.parseInt("640", 8).toShort))
    }
    for (umask <- Seq("022", "077")) {
      def at(tag: String, rel: String) = new File(s"$base/$umask/$tag/$rel")
      assert(at("ours", "a/.f.crc").isFile, "no .crc sidecar")
      for (rel <- Seq("a", "a/b", "a/f", "a/.f.crc", "a/g", "a/.g.crc")) {
        assert(perms(at("ours", rel)) == perms(at("stock", rel)),
          s"umask $umask: $rel")
        if (at("ours", rel).isFile)
          assert(Files.readAllBytes(at("ours", rel).toPath).toSeq ==
            Files.readAllBytes(at("stock", rel).toPath).toSeq, rel)
      }
    }
    assert(LocalFs.nioSets.get > nio0, "LocalFs set no permission via NIO")
  }

  test("a rename never replaces an existing file") {
    val dir = tmpDir("graft_localfs_rename")
    val fs = LocalFs.fileSystem(spark, new Path(dir))
    for (name <- Seq("a", "b")) {
      val out = fs.create(new Path(dir, name))
      try out.write(name.getBytes("UTF-8")) finally out.close()
    }
    assert(!fs.rename(new Path(dir, "a"), new Path(dir, "b")))
    assert(Files.readString(new File(dir, "b").toPath) == "b")
    assert(fs.rename(new Path(dir, "a"), new Path(dir, "c")))
    assert(Files.readString(new File(dir, "c").toPath) == "a")
    assert(new File(dir, ".c.crc").isFile && !new File(dir, ".a.crc").exists)
  }

  test("lake output from every writer reads back identically through " +
      "a stock handle, each write's permissions set through NIO") {
    val base = tmpDir("graft_localfs_lake")
    val root = new File(base)
    val fact = s"$base/fact"
    val lake = s"$base/lake"
    // keys 1-6 land in month 1; the second batch updates 4-6 there
    // and adds 7-9 in month 2
    def batch(ks: Seq[Long], v: Double) =
      ks.map(k => (k, if (k <= 6L) 20240101 else 20240201, v + k))
        .toDF("k", "date_key", "v")
        .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    for ((ks, v) <- Seq((1L to 6L, 0.0), (4L to 9L, 10.0)))
      viaNio(root, s"upsert $v")(Merge.upsertPartitioned(spark, fact,
        batch(ks, v), keys = Seq("k"), updateCols = Seq("v"),
        tiebreak = Seq(col("date_key").desc),
        partitionCols = Seq("part_month")))
    for (i <- 1 to 3)
      viaNio(root, s"commit $i")(Versioned.commit(Seq(i, 10 * i).toDF("x"),
        lake): Unit)
    viaNio(root, "maintain")(Versioned.maintain(spark, lake,
      smallerThanBytes = 1L << 20, keepLast = 1): Unit)
    viaNio(root, "writeMonthlyPartitioned")(Writer.writeMonthlyPartitioned(
      batch(1L to 9L, 0.0), "date_key", s"$base/monthly"))
    viaNio(root, "overwritePartitions")(Writer.overwritePartitions(
      batch(1L to 9L, 0.0), s"$base/daily", Seq("part_month")))
    viaNio(root, "writeZOrdered")(Writer.writeZOrdered(
      spark.range(64).select((col("id") % 8).as("x"), (col("id") / 8).as("y")),
      "x", "y", s"$base/z", partitions = 2))
    viaNio(root, "exportJsonlSharded")(Writer.exportJsonlSharded(
      batch(1L to 9L, 0.0), "k", s"$base/jsonl", shards = 2): Unit)

    val stock = handle(new LocalFileSystem(), "022")
    for (f <- filesUnder(root) if !f.getName.endsWith(".crc")) {
      val in = stock.open(new Path(f.toURI))
      val bytes = try in.readAllBytes() finally in.close()
      assert(bytes.toSeq == Files.readAllBytes(f.toPath).toSeq, f.getPath)
      assert(new File(f.getParentFile, s".${f.getName}.crc").isFile,
        s"no .crc sidecar for $f")
    }
    val rows = spark.read.parquet(fact).orderBy("k")
      .select("k", "v", "part_month").as[(Long, Double, Int)].collect().toSeq
    assert(rows == (1L to 3L).map(k => (k, k.toDouble, 1)) ++
      (4L to 9L).map(k => (k, 10.0 + k, if (k <= 6L) 1 else 2)))
    assert(Versioned.read(spark, lake).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 10, 20, 30))
  }
}
