package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._

import graft.streaming.{ForkFreeCheckpointFileManager, Streams}

/** Fork-free local checkpoint and sink I/O: the
  * [[ForkFreeCheckpointFileManager]] contract, and a JFR count of the
  * processes the stream runners and the rq sink spawn.
  */
class CheckpointIOSpec extends SparkSpec {

  private def manager(dir: String) =
    new ForkFreeCheckpointFileManager(new Path(dir),
      spark.sessionState.newHadoopConf())

  private def write(m: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes("UTF-8"))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("fork-free checkpoint manager: no-overwrite createAtomic onto " +
      "an existing file fails with FileAlreadyExistsException, and " +
      "cancel() leaves neither a temp file nor the final file") {
    val dir = Files.createTempDirectory("ckfm").toString
    val m = manager(dir)
    val p = new Path(dir, "0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, p, "second", overwrite = false)
    }
    assert(read(m, p) == "first")
    write(m, p, "third", overwrite = true)
    assert(read(m, p) == "third")

    val sub = Files.createDirectories(
      java.nio.file.Paths.get(dir, "cancelled"))
    val out = m.createAtomic(new Path(sub.toString, "1"), false)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    assert(sub.toFile.list().isEmpty,
      s"cancel left ${sub.toFile.list().mkString(", ")}")
  }

  test("fork-free checkpoint manager: a stream's offset log keeps its " +
      ".crc sidecar, and a flipped byte fails the read with " +
      "ChecksumException") {
    val base = Files.createTempDirectory("ckcrc")
    val in = Files.createDirectories(base.resolve("in"))
    Files.writeString(in.resolve("a.json"), "{\"n\":1}\n")
    val ck = base.resolve("_ck").toString
    Streams.withForkFreeCheckpoints(spark) {
      val q = spark.readStream
        .format(classOf[graft.sources.RqTableProvider].getName)
        .option("recordFormat", "json").load(in.toString)
        .writeStream.format("noop").option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val m = manager(ck)
    val off = new Path(ck, "offsets/0")
    assert(base.resolve("_ck/offsets/.0.crc").toFile.isFile)
    assert(read(m, off).startsWith("v1"))
    val raf = new java.io.RandomAccessFile(
      base.resolve("_ck/offsets/0").toFile, "rw")
    try {
      raf.seek(2)
      val b = raf.read()
      raf.seek(2)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(m, off))
  }

  test("fork-free checkpoint manager: file: paths go to the " +
      "FileSystem manager over the fork-free local FS, other schemes " +
      "to Spark's default manager") {
    val local = manager(Files.createTempDirectory("cklocal").toString)
    assert(local.underlying
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(local.isLocal)
    // a scheme with a FileSystem but no AbstractFileSystem: Spark's
    // default falls back from the FileContext manager
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.mock.impl",
      classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    conf.set("fs.mock.impl.disable.cache", "true")
    val p = new Path("mock:///ck")
    val other = new ForkFreeCheckpointFileManager(p, conf).underlying
    assert(other.getClass ==
      CheckpointFileManager.create(p, conf).getClass)
    // the session scope installs the manager and the local FS only
    // where the user has set neither, and restores the conf after
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val fsKey = "fs.file.impl"
    assert(spark.conf.getOption(key).isEmpty &&
      spark.conf.getOption(fsKey).isEmpty)
    Streams.withForkFreeCheckpoints(spark) {
      assert(spark.conf.get(key) ==
        classOf[ForkFreeCheckpointFileManager].getName)
      assert(spark.conf.get(fsKey) ==
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)
    }
    assert(spark.conf.getOption(key).isEmpty &&
      spark.conf.getOption(fsKey).isEmpty)
    val spark0 = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(key, spark0)
    try Streams.withForkFreeCheckpoints(spark) {
      assert(spark.conf.get(key) == spark0)
    } finally spark.conf.unset(key)
  }

  /** The stack (`class.method` frames) and command of every process
    * started while `body` runs, from a JFR `jdk.ProcessStart`
    * recording.
    */
  private def spawns(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala)
            .map(fr => fr.getMethod.getType.getName + "." +
              fr.getMethod.getName)
          (e.getString("command"), frames)
        }
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def onPath(frames: Seq[String], marks: String*): Boolean =
    frames.exists(f => marks.exists(f.contains))

  /** Frames of checkpoint and state-store code. */
  private val checkpointFrames = Seq("CheckpointFileManager",
    "org.apache.spark.sql.execution.streaming.state.")

  /** A spawn of checkpoint or state-store file I/O: a Hadoop frame
    * under a checkpoint or state-store frame. Spark's `rm -rf` of a
    * RocksDB instance's local working directory (`JavaUtils`, no
    * Hadoop frame) is local scratch, not checkpoint I/O.
    */
  private def checkpointIO(frames: Seq[String]): Boolean =
    onPath(frames, checkpointFrames: _*) &&
      onPath(frames, "org.apache.hadoop.")

  test("JFR: qs31 and the qs8 store-stream runner spawn no process " +
      "from checkpoint or state-store I/O, nor the rq sink from its " +
      "writer; Spark's default checkpoint manager does (the control)") {
    val control = spawns {
      val dir = Files.createTempDirectory("ckctl").toString
      write(new FileContextBasedCheckpointFileManager(new Path(dir),
        spark.sessionState.newHadoopConf()), new Path(dir, "0"), "x",
        overwrite = false)
    }
    assert(control.exists { case (_, fr) => checkpointIO(fr) },
      s"the recording saw no spawn of the default manager: $control")

    val qs31 = spawns {
      SparkEntry.queries("qs31_stream_session_tws")(spark, sf0001)
        .collect()
    }
    val qs31Ck = qs31.filter { case (_, fr) => checkpointIO(fr) }
    assert(qs31Ck.isEmpty, s"qs31 checkpoint spawns: ${qs31Ck.size} " +
      s"of ${qs31.size}, first ${qs31Ck.headOption}")
    // the input slices are staged inside the fork-free scope too
    val staged = qs31.filter { case (cmd, _) =>
      cmd.startsWith("chmod") && cmd.contains("graft_qs31_in") }
    assert(staged.isEmpty, s"qs31 staging chmods: ${staged.size}, " +
      s"first ${staged.headOption}")
    info(s"qs31 at sf0.001 spawned ${qs31.size} processes: " +
      qs31.groupBy(_._1.takeWhile(_ != ' ')).map { case (c, v) =>
        s"$c ${v.size}" }.mkString(", "))

    val docs = graft.queries.T.t(spark, sf0001, "documents")
    val corpus = docs.where(col("doc_id") < 400).cache()
    val base = Files.createTempDirectory("qs8spawn")
    val deltaDir = base.resolve("delta").toString
    docs.where(col("doc_id") >= 400).coalesce(1).write.parquet(deltaDir)
    val qs8 = spawns {
      Streams.runEvolvingParagraphDedupStream(spark, deltaDir, corpus,
        0.8, base.resolve("out").toString, compactEvery = 2)
    }
    corpus.unpersist()
    val qs8Ck = qs8.filter { case (_, fr) => checkpointIO(fr) }
    assert(qs8Ck.isEmpty, s"qs8 checkpoint spawns: ${qs8Ck.size} " +
      s"of ${qs8.size}, first ${qs8Ck.headOption}")

    val out = base.resolve("rq").toString
    val rq = spawns {
      spark.range(200).selectExpr("to_json(named_struct('n', id)) AS value")
        .repartition(4).write
        .format(classOf[graft.sources.RqTableProvider].getName)
        .option("recordFormat", "json").mode("overwrite").save(out)
    }
    val rqSink = rq.filter { case (_, fr) => onPath(fr, "graft.sources.") }
    assert(rqSink.isEmpty, s"rq sink spawns: $rqSink")
    // the shards keep their checksum sidecars
    val names = new java.io.File(out).list().toSeq
    val shards = names.filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(shards.size == 4)
    assert(shards.forall(s => names.contains(s".$s.crc")), names)
    assert(spark.read.format(classOf[graft.sources.RqTableProvider].getName)
      .option("recordFormat", "json").load(out).count() == 200)
  }
}
