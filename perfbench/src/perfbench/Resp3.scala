package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** The load generator's own RESP3 codec: requests are arrays of blob
  * strings; replies decode into plain Scala values. It shares no code
  * with the server's codec, so a change to that codec is charged to the
  * server alone.
  */
object Resp3 {

  final case class Err(msg: String)
  final case class Push(items: Vector[Any])
  /** A simple string (`+...`), kept apart from blob strings. */
  final case class Simple(s: String)

  def encodeCommand(args: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 + args.map(_.length + 16).sum)
    def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    w(s"*${args.length}\r\n")
    args.foreach { a => w(s"$$${a.length}\r\n"); out.write(a); w("\r\n") }
    out.toByteArray
  }

  /** Reads one reply; `raw` (if given) receives every byte read. */
  def decode(in: InputStream, raw: ByteArrayOutputStream = null): Any = {
    def byte(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException()
      if (raw != null) raw.write(b)
      b
    }
    def line(): String = {
      val sb = new ByteArrayOutputStream(16)
      var b = byte()
      while (b != '\r') { sb.write(b); b = byte() }
      if (byte() != '\n') throw new java.io.IOException("bad line end")
      new String(sb.toByteArray, UTF_8)
    }
    def bytes(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val k = in.read(buf, off, n - off)
        if (k < 0) throw new EOFException()
        off += k
      }
      if (raw != null) raw.write(buf)
      buf
    }
    byte().toChar match {
      case '+' => Simple(line())
      case '-' => Err(line())
      case ':' => line().toLong
      case ',' => line().toDouble
      case '#' => line() == "t"
      case '_' => line(); null
      case '$' =>
        val n = line().toInt
        if (n < 0) null else { val b = bytes(n); line(); b }
      case '*' => Vector.fill(line().toInt)(decode(in, raw))
      case '>' => Push(Vector.fill(line().toInt)(decode(in, raw)))
      case '%' =>
        val n = line().toInt
        (0 until n).map { _ =>
          val k = decode(in, raw)
          val key = k match {
            case b: Array[Byte] => new String(b, UTF_8)
            case other          => String.valueOf(other)
          }
          key -> decode(in, raw)
        }.toMap
      case c => throw new java.io.IOException(s"unknown RESP type '$c'")
    }
  }

  def text(v: Any): String = v match {
    case b: Array[Byte] => new String(b, UTF_8)
    case Simple(s)      => s
    case other          => String.valueOf(other)
  }

  /** One client connection. `call` is request/reply; subscribers use
    * `send` + `read` because pushes interleave with replies.
    */
  final class Conn(port: Int, recordFrames: Boolean = false) {
    val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = new BufferedOutputStream(sock.getOutputStream)
    private val in = new BufferedInputStream(sock.getInputStream)
    var bytesOut = 0L
    var bytesIn = 0L
    /** (request, reply) wire bytes, kept when `recordFrames` is set. */
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte])]

    def send(args: Seq[Array[Byte]]): Array[Byte] = {
      val req = encodeCommand(args)
      out.write(req); out.flush()
      bytesOut += req.length
      req
    }

    def read(): Any = {
      val raw = new ByteArrayOutputStream(256)
      val v = decode(in, raw)
      bytesIn += raw.size()
      v
    }

    def readRaw(): (Any, Array[Byte]) = {
      val raw = new ByteArrayOutputStream(256)
      val v = decode(in, raw)
      bytesIn += raw.size()
      (v, raw.toByteArray)
    }

    def call(args: Seq[Array[Byte]]): Any = {
      val req = send(args)
      val (v, rep) = readRaw()
      if (recordFrames) frames += req -> rep
      v
    }

    def callText(args: String*): Any = call(args.map(_.getBytes(UTF_8)))

    def close(): Unit = try sock.close() catch { case _: Exception => () }
  }
}
