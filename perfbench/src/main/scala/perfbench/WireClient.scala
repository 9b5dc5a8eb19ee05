package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** A minimal PostgreSQL v3 protocol client: startup, simple Query, and
  * the extended Parse/Bind/Describe/Execute/Sync flow, text format only.
  * It reads every DataRow of a result before returning, and counts the
  * bytes it receives. */
final class WireClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  var bytesIn: Long = 0

  final case class Result(rows: Seq[Array[String]], tag: String, error: Option[String])

  startup()

  private def startup(): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(196608)
    for (s <- Seq("user", "bench", "database", "graft")) { d.write(s.getBytes(UTF_8)); d.write(0) }
    d.write(0)
    out.writeInt(body.size + 4)
    body.writeTo(out)
    out.flush()
    val r = readUntilReady()
    r.error.foreach(e => throw new IllegalStateException(s"wire startup failed: $e"))
  }

  private def msg(tpe: Char)(fill: DataOutputStream => Unit): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    fill(new DataOutputStream(body))
    out.write(tpe.toInt)
    out.writeInt(body.size + 4)
    body.writeTo(out)
  }

  private def cstr(d: DataOutputStream, s: String): Unit = { d.write(s.getBytes(UTF_8)); d.write(0) }

  /** Simple-query protocol: one statement, all rows. */
  def query(sql: String): Result = {
    msg('Q')(cstr(_, sql))
    out.flush()
    readUntilReady()
  }

  /** Extended protocol with text parameters (int8 typed). */
  def bind(sql: String, params: Seq[String]): Result = {
    msg('P') { d => cstr(d, ""); cstr(d, sql); d.writeShort(params.size); params.foreach(_ => d.writeInt(20)) }
    msg('B') { d =>
      cstr(d, ""); cstr(d, "")
      d.writeShort(0)
      d.writeShort(params.size)
      params.foreach { p => val b = p.getBytes(UTF_8); d.writeInt(b.length); d.write(b) }
      d.writeShort(0)
    }
    msg('D') { d => d.write('P'.toInt); cstr(d, "") }
    msg('E') { d => cstr(d, ""); d.writeInt(0) }
    msg('S')(_ => ())
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): Result = {
    val rows = ArrayBuffer[Array[String]]()
    var tag = ""
    var error: Option[String] = None
    var done = false
    while (!done) {
      val tpe = in.readUnsignedByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      bytesIn += len + 1
      tpe match {
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort.toInt
          rows += Array.tabulate(n) { _ =>
            val l = bb.getInt
            if (l < 0) null
            else { val s = new String(body, bb.position(), l, UTF_8); bb.position(bb.position() + l); s }
          }
        case 'C' => tag = new String(body, 0, body.length - 1, UTF_8)
        case 'E' =>
          // fields are <code byte><cstring>; the message field is 'M'
          error = Some(new String(body, UTF_8).split('\u0000')
            .find(_.startsWith("M")).map(_.drop(1)).getOrElse("error"))
        case 'Z' => done = true
        case _ => // auth ok, parameter status, key data, row description, parse/bind complete
      }
    }
    Result(rows.toSeq, tag, error)
  }

  def close(): Unit = {
    try { msg('X')(_ => ()); out.flush() } catch { case _: Exception => }
    sock.close()
  }
}
