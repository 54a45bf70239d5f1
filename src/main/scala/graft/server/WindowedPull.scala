package graft.server

import java.io.{ByteArrayInputStream, DataInputStream, DataOutputStream, OutputStream, SequenceInputStream}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._
import scala.util.Failure
import org.apache.spark.{InterruptibleIterator, SparkContext, SparkEnv, TaskContext}
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

/** The rows of an executed plan's RDD, pulled to the driver in partition
  * order by one job per window of partitions.
  *
  * A window is one wave: `min(partitions left, defaultParallelism)`
  * partitions. A task encodes its partition as LZ4-compressed UnsafeRow
  * bytes in 64 KiB chunks, and gives up with `Overflow` once it holds
  * more than `TaskBudget` bytes, so a window holds at most
  * `defaultParallelism` × `TaskBudget` (plus one row per task) on the
  * driver: 64 MiB on 4 cores. Each partition is handed over as soon as it
  * and every earlier one have arrived. The first overflow cancels the
  * window's job; the window's partitions that had already arrived are
  * kept, and every other remaining partition is pulled whole by a job of
  * its own, as `toLocalIterator` does.
  */
private[graft] object WindowedPull {

  /** Compressed bytes a task may buffer before it overflows. A
    * `serve_stream` data partition (75k lineitem rows, 4.9 MB of CSV)
    * compresses to 3.1 MiB.
    */
  val TaskBudget: Long = 16L << 20
  private val ChunkBytes = 64 << 10 // below G1's humongous threshold

  sealed trait Part extends Serializable
  final case class Rows(chunks: Array[Array[Byte]]) extends Part
  case object Overflow extends Part

  /** Rows of `rdd` (whose rows are UnsafeRows of `numFields` fields). The
    * first window's job is submitted before this returns. Each row is
    * valid until the next call to `next`, as the encoders consume them.
    */
  def apply(sc: SparkContext, rdd: RDD[InternalRow], numFields: Int): Iterator[InternalRow] = {
    val n = rdd.getNumPartitions
    val budgeted = rdd.mapPartitions(encode(TaskBudget))
    val whole = rdd.mapPartitions(encode(Long.MaxValue))
    def window(p: Int) = new Window(sc, budgeted, p, math.min(n - p, sc.defaultParallelism))
    new Iterator[InternalRow] {
      private var win: Window = if (n == 0) null else window(0)
      private var overflowed = false
      private var nextPart = 0
      private var cur: Iterator[InternalRow] = Iterator.empty

      def hasNext: Boolean = {
        while (!cur.hasNext && nextPart < n) {
          cur = decode(pull(nextPart), numFields)
          nextPart += 1
        }
        cur.hasNext
      }

      def next(): InternalRow =
        if (hasNext) cur.next() else throw new NoSuchElementException("end of result")

      private def pull(p: Int): Array[Array[Byte]] = {
        if (win != null && p >= win.end) win = if (overflowed) null else window(p)
        (if (win == null) null else win.take(p)) match {
          case Rows(chunks) => chunks
          case _ => // Overflow, or not arrived before the window was cancelled
            if (!overflowed) win.cancel()
            overflowed = true
            sc.runJob(whole, (it: Iterator[Part]) => it.next(), Seq(p)).head
              .asInstanceOf[Rows].chunks
        }
      }
    }
  }

  /** One job over partitions [start, end) of `rdd`. */
  private final class Window(sc: SparkContext, rdd: RDD[Part], start: Int, size: Int) {
    val end: Int = start + size
    private val slots = new Array[Part](size)
    private var cancelled = false
    private val job = sc.submitJob(rdd, (it: Iterator[Part]) => it.next(), start until end,
      (i: Int, part: Part) => synchronized {
        slots(i) = part
        notifyAll()
      }, ())
    job.onComplete(_ => synchronized(notifyAll()))(ExecutionContext.parasitic)

    /** Partition `p`'s result, once it has arrived; the job's failure, if
      * it failed; null if the window was cancelled before it arrived.
      */
    def take(p: Int): Part = synchronized {
      val i = p - start
      while (slots(i) == null && !cancelled) job.value match {
        case Some(Failure(e)) => throw e
        case _ => wait()
      }
      val part = slots(i)
      slots(i) = null
      part
    }

    /** Kill the job's tasks still running. Results already here stay. */
    def cancel(): Unit = synchronized {
      cancelled = true
      if (!job.isCompleted) job.cancel()
    }
  }

  private def encode(budget: Long)(input: Iterator[InternalRow]): Iterator[Part] = {
    val sink = new Chunks
    val rows = new InterruptibleIterator(TaskContext.get(), input) // stops once cancelled
    val out = new DataOutputStream(
      new LZ4CompressionCodec(SparkEnv.get.conf).compressedOutputStream(sink))
    val buf = new Array[Byte](4096)
    while (rows.hasNext) {
      val row = rows.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buf)
      if (sink.size > budget) return Iterator.single(Overflow)
    }
    out.writeInt(-1)
    out.close()
    Iterator.single(Rows(sink.arrays))
  }

  private def decode(chunks: Array[Array[Byte]], numFields: Int): Iterator[InternalRow] = {
    val bytes = new SequenceInputStream(
      chunks.iterator.map(c => new ByteArrayInputStream(c): java.io.InputStream).asJavaEnumeration)
    val in = new DataInputStream(
      new LZ4CompressionCodec(SparkEnv.get.conf).compressedInputStream(bytes))
    new Iterator[InternalRow] {
      private val row = new UnsafeRow(numFields)
      private var buf = new Array[Byte](1024)
      private var rowBytes = in.readInt()
      def hasNext: Boolean = rowBytes >= 0
      def next(): InternalRow = {
        if (buf.length < rowBytes) buf = new Array[Byte](math.max(rowBytes, 2 * buf.length))
        in.readFully(buf, 0, rowBytes)
        row.pointTo(buf, rowBytes)
        rowBytes = in.readInt()
        row
      }
    }
  }

  /** An output stream into fixed-size chunks: never copied to grow. */
  private final class Chunks extends OutputStream {
    private val full = ArrayBuffer.empty[Array[Byte]]
    private var chunk = new Array[Byte](ChunkBytes)
    private var pos = 0
    def size: Long = full.size.toLong * ChunkBytes + pos

    override def write(b: Int): Unit = {
      if (pos == ChunkBytes) roll()
      chunk(pos) = b.toByte
      pos += 1
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      val end = off + len
      while (o < end) {
        if (pos == ChunkBytes) roll()
        val k = math.min(end - o, ChunkBytes - pos)
        System.arraycopy(b, o, chunk, pos, k)
        pos += k
        o += k
      }
    }

    private def roll(): Unit = {
      full += chunk
      chunk = new Array[Byte](ChunkBytes)
      pos = 0
    }

    def arrays: Array[Array[Byte]] = (full :+ java.util.Arrays.copyOf(chunk, pos)).toArray
  }
}
