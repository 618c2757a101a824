package graft

import java.nio.file.{Files, Path => JPath}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import graft.streaming.{LocalCheckpointFiles, Streams}
import graft.streaming.Streams.{EntityState, Ev}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

/** Streaming checkpoints go through `LocalCheckpointFiles`, the manager
  * `core-site.xml` names: a `file:` checkpoint is written without starting
  * a process per file, and it stays a checkpoint — it resumes, it rejects
  * a corrupted file, and its files keep Hadoop's modes and `.crc` side
  * files. Other schemes keep the manager Spark would choose.
  */
class CheckpointFilesSpec extends SparkSpecBase {

  /** `n` micro-batches of 40 events over 7 users; timestamps run out of
    * order within a batch, so the fold's ordering matters.
    */
  private def feed(n: Int): Seq[Seq[Ev]] = (0 until n).map { b =>
    (0 until 40).map { i =>
      val id = b * 40L + i
      Ev(id, 1000L + b * 100L + (i * 37L) % 90L, id % 7, "view", (id * 13 % 101).toDouble)
    }
  }

  private def memoryStream(): MemoryStream[Ev] = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    MemoryStream[Ev]
  }

  /** Runs `Streams.latestState` over `in` into checkpoint `ck`, one
    * micro-batch per element of `batches`, and returns each batch's
    * output rows by batch id.
    */
  private def runLatest(in: MemoryStream[Ev], ck: JPath, batches: Seq[Seq[Ev]])
      : Seq[(Long, Seq[EntityState])] = {
    val out = new ConcurrentLinkedQueue[(Long, Seq[EntityState])]
    val q = Streams.latestState(in.toDS()).writeStream
      .option("checkpointLocation", ck.toString)
      .outputMode("update")
      .foreachBatch { (b: Dataset[EntityState], id: Long) =>
        out.add(id -> b.collect().toSeq.sortBy(_.user_id)); ()
      }
      .start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    out.asScala.toSeq.sortBy(_._1)
  }

  private def withTempDir[T](f: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt-")
    try f(dir) finally Files.walk(dir).sorted(Comparator.reverseOrder[JPath]())
      .forEach(p => Files.delete(p))
  }

  private def flipByte(f: JPath, at: Int): Unit = {
    val bytes = Files.readAllBytes(f)
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    Files.write(f, bytes)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(50).toSeq

  test("core-site.xml makes LocalCheckpointFiles the manager of file: checkpoints") {
    withTempDir { dir =>
      val fm = CheckpointFileManager.create(new Path(dir.toString),
        spark.sessionState.newHadoopConf())
      assert(fm.isInstanceOf[LocalCheckpointFiles], fm.getClass.getName)
      assert(fm.isLocal)
    }
  }

  test("latestState over 3 micro-batches starts no process naming its checkpoint") {
    withTempDir { dir =>
      val ck = dir.resolve("ck")
      val marker = s"graft-jfr-control-${dir.getFileName}"
      val rec = new Recording()
      val events = try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        val out = runLatest(memoryStream(), ck, feed(3))
        assert(out.map(_._1) == Seq(0L, 1L, 2L))
        // a control launch: the recording sees processes this JVM starts
        new ProcessBuilder("true", marker).start().waitFor()
        rec.stop()
        val jfr = dir.resolve("launches.jfr")
        rec.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala.toSeq
      } finally rec.close()
      val commands = events.map(_.getString("command"))
      assert(commands.exists(_.contains(marker)),
        s"the control launch was not recorded: $commands")
      val named = commands.filter(_.contains(dir.getFileName.toString))
        .filterNot(_.contains(marker))
      assert(named.isEmpty, s"${named.size} launches name the checkpoint, " +
        s"e.g. ${named.take(3).mkString("; ")}")
    }
  }

  test("latestState resumed from a half-fed checkpoint equals an uninterrupted run") {
    withTempDir { dir =>
      val all = feed(6)
      val whole = runLatest(memoryStream(), dir.resolve("whole"), all)
      val in = memoryStream()
      val first = runLatest(in, dir.resolve("resumed"), all.take(3))
      val rest = runLatest(in, dir.resolve("resumed"), all.drop(3))
      assert(first.map(_._1) == Seq(0L, 1L, 2L))
      assert(rest.map(_._1) == Seq(3L, 4L, 5L))
      assert(first ++ rest == whole)
    }
  }

  // Spark's default manager writes the `.crc` files but reads through
  // `FileContext.open`, which on a local path skips them: it read the
  // corrupted offsets file and failed later, on a state schema mismatch.
  test("a flipped byte in a committed offsets file or state delta fails the restart with a checksum error") {
    for (target <- Seq("offsets", "state")) withTempDir { dir =>
      val ck = dir.resolve("ck")
      val in = memoryStream()
      val batches = feed(4)
      runLatest(in, ck, batches.take(3))
      // batch 2 wrote offsets/2 and state version 3 in every partition
      val victims = target match {
        case "offsets" => Seq(ck.resolve("offsets/2"))
        case "state" => Files.walk(ck.resolve("state")).iterator.asScala
          .filter(_.getFileName.toString == "3.delta").toSeq
      }
      assert(victims.nonEmpty && victims.forall(Files.size(_) > 0), target)
      victims.foreach(v => flipByte(v, (Files.size(v) / 2).toInt))
      val e = intercept[Exception](runLatest(in, ck, batches.drop(3)))
      assert(causes(e).exists(_.isInstanceOf[ChecksumException]),
        s"$target: restart failed without a checksum error: $e")
      // the corrupt files stay where they were
      assert(victims.forall(Files.exists(_)), target)
    }
  }

  test("files keep the modes and .crc side files Hadoop's default manager gives them") {
    withTempDir { dir =>
      val conf = spark.sessionState.newHadoopConf()
      def write(fm: CheckpointFileManager, root: JPath): Unit = {
        fm.mkdirs(new Path(root.resolve("sub").toString))
        val out = fm.createAtomic(new Path(root.resolve("sub/1").toString),
          overwriteIfPossible = false)
        out.write(Array.fill[Byte](3000)(7))
        out.close()
        val cancelled = fm.createAtomic(new Path(root.resolve("sub/2").toString),
          overwriteIfPossible = false)
        cancelled.write(1)
        cancelled.cancel()
      }
      val ours = dir.resolve("ours")
      val stock = dir.resolve("stock")
      write(new LocalCheckpointFiles(new Path(ours.toString), conf), ours)
      write(new FileContextBasedCheckpointFileManager(new Path(stock.toString), conf), stock)
      def listing(root: JPath): Seq[(String, String)] =
        Files.walk(root).iterator.asScala.toSeq.map { p =>
          root.relativize(p).toString -> Files.getPosixFilePermissions(p).toString
        }.sortBy(_._1)
      assert(listing(ours).map(_._1) == Seq("", "sub", "sub/.1.crc", "sub/1"))
      assert(listing(ours) == listing(stock))
      for (f <- Seq("sub/1", "sub/.1.crc"))
        assert(Files.readAllBytes(ours.resolve(f)).toSeq ==
          Files.readAllBytes(stock.resolve(f)).toSeq, f)
    }
  }

  test("a path with another scheme gets Spark's default manager") {
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("fs.graftother.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.setBoolean("fs.graftother.impl.disable.cache", true)
    val path = new Path("graftother:///ckpt")
    val stock = new Configuration(conf)
    stock.unset(LocalCheckpointFiles.ManagerKey)
    val ours = CheckpointFileManager.create(path, conf)
    assert(ours.isInstanceOf[LocalCheckpointFiles], ours.getClass.getName)
    assert(ours.asInstanceOf[LocalCheckpointFiles].underlying.getClass ==
      CheckpointFileManager.create(path, stock).getClass)
  }
}
