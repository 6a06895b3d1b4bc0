package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** Minimal PostgreSQL simple-query client (protocol 3.0, trust auth):
  * one socket, one statement at a time, every row fetched as text. */
final class PgClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private var received = 0L

  /** Outcome of one statement: text rows (null = SQL NULL), the first
    * error message if any, and the bytes received. */
  final case class Result(rows: Vector[Array[String]], error: Option[String], bytes: Long)

  locally {
    val body = "user\u0000bench\u0000database\u0000bench\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + body.length); out.writeInt(196608); out.write(body)
    out.flush()
    val r = readUntilReady()
    r.error.foreach(e => throw new IllegalStateException(s"pg startup: $e"))
  }

  def query(sql: String): Result = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): Result = {
    val start = received
    val rows = ArrayBuffer.empty[Array[String]]
    var error: Option[String] = None
    var done = false
    while (!done) {
      val kind = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      received += 1 + len
      kind match {
        case 'D' =>
          val d = new DataInputStream(new java.io.ByteArrayInputStream(body))
          val n = d.readShort()
          rows += Array.tabulate(n) { _ =>
            val l = d.readInt()
            if (l < 0) null
            else { val v = new Array[Byte](l); d.readFully(v); new String(v, UTF_8) }
          }
        case 'E' if error.isEmpty =>
          // fields are (code byte, cstring) pairs; 'M' is the message
          val fields = new String(body, UTF_8).split('\u0000')
          error = Some(fields.find(_.startsWith("M")).map(_.drop(1))
            .getOrElse(fields.mkString(" ")))
        case 'Z' => done = true
        case _ => // RowDescription, CommandComplete, notices, status, key data
      }
    }
    Result(rows.toVector, error, received - start)
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Exception => }
    sock.close()
  }
}
