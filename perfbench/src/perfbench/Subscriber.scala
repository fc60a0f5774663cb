package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** A push as a subscriber received it. */
final case class Got(cursor: Long, stream: String, version: Long, recvNs: Long)

/** One ESUB connection, `FROM 0` with the default WINDOW, recording every
  * push and acknowledging every 100 events so the window never closes.
  */
final class Subscriber(port: Int, val streams: Seq[Int]) {
  private val conn = new Resp3.Conn(port)
  private val got = new ConcurrentLinkedQueue[Got]()
  @volatile var error: Option[Throwable] = None
  /** When the ESUB command was sent. */
  @volatile var startNs: Long = 0L

  private val thread = new Thread(() => {
    try {
      startNs = System.nanoTime()
      val subId = conn.callText(Seq("ESUB") ++ streams.map(Gen.streamName) ++ Seq("FROM", "0"): _*) match {
        case Resp3.Simple(id) => id
        case other => throw new IllegalStateException(s"ESUB replied $other")
      }
      var acked = -1L
      while (true) {
        conn.read() match {
          case Resp3.Push(Vector(_, _, cursor: Long, ev: Map[_, _] @unchecked)) =>
            val f = ev.asInstanceOf[Map[String, Any]]
            got.add(Got(cursor, Resp3.text(f("stream_id")),
              f("stream_version").asInstanceOf[Long], System.nanoTime()))
            if (cursor - acked >= 100) {
              conn.send(Seq("EACK", subId, cursor.toString).map(_.getBytes(UTF_8)))
              acked = cursor
            }
          case _ => () // EACK replies
        }
      }
    } catch {
      case _: java.net.SocketException | _: java.io.EOFException => () // closed by stop()
      case t: Throwable => error = Some(t)
    }
  }, "perfbench-subscriber")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { conn.close(); thread.join(5000) }
  def delivered: Seq[Got] = got.asScala.toSeq
  def count: Int = got.size()
}
