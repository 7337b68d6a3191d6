package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger

import graft.io.LocalCheckpointFileManager
import graft.operators.StatefulQueries

/** The fork-free local checkpoint manager keeps the engine's
  * FileSystem-based semantics (atomic temp-then-rename publish, `.crc`
  * sidecars verified on read, no overwrite unless asked), falls back to the
  * engine default off `file:`, and is installed by the drain scope only
  * when the caller chose no manager. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val Key = LocalCheckpointFileManager.ConfKey
  private val conf = new Configuration()

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt-fm-")
    try body(dir) finally StatefulQueries.deleteRecursively(dir)
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def publish(fm: CheckpointFileManager, p: Path, text: String,
                      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the engine instantiates the manager from the conf key") {
    withDir { dir =>
      val c = new Configuration(conf)
      c.set(Key, classOf[LocalCheckpointFileManager].getName)
      assert(CheckpointFileManager.create(new Path(dir.toUri), c)
        .isInstanceOf[LocalCheckpointFileManager])
    }
  }

  test("createAtomic + close publishes the file and its .crc, leaving no temp file") {
    withDir { dir =>
      val fm = manager(dir)
      assert(fm.isLocal)
      val p = new Path(dir.toUri.toString + "/0")
      publish(fm, p, "v1")
      assert(names(dir) == Set("0", ".0.crc"))
      assert(fm.exists(p))
      assert(read(fm, p) == "v1")
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("0"),
        "list must hide the .crc sidecar")
      // the permission bits Hadoop would have set with a forked chmod:
      // the file default under the configured umask
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("0"))) ==
        org.apache.hadoop.fs.permission.FsPermission.getFileDefault
          .applyUMask(org.apache.hadoop.fs.permission.FsPermission.getUMask(conf)).toString)
    }
  }

  test("cancel publishes nothing") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(dir.toUri.toString + "/1"), false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
    }
  }

  test("overwriteIfPossible=false fails on an existing file; true replaces it") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString + "/2")
      publish(fm, p, "first")
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](publish(fm, p, "second"))
      assert(read(fm, p) == "first")
      // the engine's rename-based stream leaves a refused publish's temp
      // file in place, on every manager; only the published names count
      def published = names(dir).filterNot(_.endsWith(".tmp")).filterNot(_.endsWith(".tmp.crc"))
      assert(published == Set("2", ".2.crc"))
      publish(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
      assert(published == Set("2", ".2.crc"))
    }
  }

  test("a flipped byte in a published file fails its checksum on read") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString + "/3")
      publish(fm, p, "checksummed payload")
      val f = dir.resolve("3")
      val bytes = Files.readAllBytes(f)
      bytes(4) = (bytes(4) ^ 0x01).toByte
      Files.write(f, bytes)
      intercept[ChecksumException](read(fm, p))
    }
  }

  test("mkdirs and createCheckpointDirectory set the directory default bits") {
    withDir { dir =>
      val fm = manager(dir)
      val sub = fm.createCheckpointDirectory()
      assert(sub.toUri.getScheme == "file")
      fm.mkdirs(new Path(dir.toUri.toString + "/a/b"))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("a/b"))) ==
        org.apache.hadoop.fs.permission.FsPermission.getDirDefault
          .applyUMask(org.apache.hadoop.fs.permission.FsPermission.getUMask(conf)).toString)
    }
  }

  test("a non-file: path gets the engine default manager") {
    // a scheme served by a local implementation: nothing leaves the host
    val c = new Configuration(conf)
    c.set("fs.graftother.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    val p = new Path("graftother:///ckpt")
    val engine = CheckpointFileManager.create(p, c)
    assert(new LocalCheckpointFileManager(p, c).underlying.getClass == engine.getClass)
    // while on file: the manager is not the engine default
    withDir { dir =>
      val local = new Path(dir.toUri)
      assert(new LocalCheckpointFileManager(local, c).underlying.getClass !=
        CheckpointFileManager.create(local, c).getClass)
    }
  }

  test("drain scope: sets the manager only when unset, restores it after a throwing body") {
    assert(spark.conf.getOption(Key).isEmpty)
    StatefulQueries.withStreamConf(spark, Some(3)) {
      assert(spark.conf.getOption(Key).contains(classOf[LocalCheckpointFileManager].getName))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    }
    assert(spark.conf.getOption(Key).isEmpty)
    intercept[IllegalStateException] {
      StatefulQueries.withStreamConf(spark, Some(3)) { throw new IllegalStateException("boom") }
    }
    assert(spark.conf.getOption(Key).isEmpty, "manager leaked out of a failed scope")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4", "width leaked out of a failed scope")

    // a caller's own manager wins, and survives a failed scope
    val mine = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    spark.conf.set(Key, mine)
    try {
      StatefulQueries.withStreamConf(spark, None) {
        assert(spark.conf.get(Key) == mine)
      }
      intercept[IllegalStateException] {
        StatefulQueries.withStreamConf(spark, None) { throw new IllegalStateException("boom") }
      }
      assert(spark.conf.get(Key) == mine)
    } finally spark.conf.unset(Key)
  }

  test("a drain's checkpoint goes through the manager and keeps .crc sidecars") {
    withDir { dir =>
      val src = Files.createDirectory(dir.resolve("src"))
      val ckpt = dir.resolve("ckpt")
      import spark.implicits._
      Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.parquet(src.resolve("p").toString)
      val stream = spark.readStream.schema("v long").parquet(src.resolve("p").toString)
      StatefulQueries.withStreamConf(spark, Some(2)) {
        val hc = spark.sessionState.newHadoopConf()
        assert(CheckpointFileManager.create(new Path(ckpt.toUri), hc)
          .isInstanceOf[LocalCheckpointFileManager])
        val q = stream.groupBy(($"v" % 2).as("k")).count()
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      for (log <- Seq("offsets", "commits")) {
        val files = names(ckpt.resolve(log))
        assert(files.contains("0") && files.contains(".0.crc"), s"$log: $files")
        assert(!files.exists(_.endsWith(".tmp")), s"$log: temp file left: $files")
      }
      assert(names(ckpt.resolve("state/0/0")).exists(_.endsWith(".delta.crc")))
    }
  }
}
