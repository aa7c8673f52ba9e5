package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** Micro-batch streaming over an rq record-stream directory: the
  * reference's unbounded stdin stream (SURVEY §2.10) maps to "files
  * appearing in a directory". The offset is the count of files in
  * sorted order (append-only directory assumption, like Spark's own
  * FileStreamSource); each batch decodes the newly-arrived files with
  * the same per-file partition readers, and the same row form, as the
  * batch path.
  */
final case class RqFileOffset(count: Int) extends Offset {
  override def json(): String = count.toString
}

final class RqMicroBatchStream(options: Map[String, String],
    binary: Boolean) extends MicroBatchStream {

  private val (path, fmt, opts) = RqTableProvider.opts(options)

  private def listFiles(): Array[String] = {
    val p = new Path(path)
    val fs = RqTableProvider.fileSystem(p)
    if (!fs.exists(p)) Array.empty
    else if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
        .filterNot { f =>
          val n = new Path(f).getName
          n.startsWith("_") || n.startsWith(".") // hidden + temps
        }
        .sorted
    else Array(p.toString)
  }

  override def initialOffset(): Offset = RqFileOffset(0)

  override def latestOffset(): Offset = RqFileOffset(listFiles().length)

  override def deserializeOffset(json: String): Offset =
    RqFileOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RqFileOffset].count
    val e = end.asInstanceOf[RqFileOffset].count
    listFiles().slice(s, e)
      .map(f => RqInputPartition(f, fmt, opts, binary): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RqReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
