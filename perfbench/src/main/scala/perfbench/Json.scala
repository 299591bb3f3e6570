package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The harness's result file (json4s, from Spark's classpath), plus raw
  * little-endian float64 arrays for the per-item data, which run.py reads
  * with numpy. */
object Json {
  def writeFile(path: String, v: Map[String, Any]): Unit =
    Files.writeString(Paths.get(path), Serialization.write(v)(DefaultFormats))

  /** `xs` as little-endian float64 (numpy `fromfile(dtype="<f8")`). */
  def writeDoubles(path: String, xs: Array[Double]): Unit = {
    val buf = java.nio.ByteBuffer.allocate(xs.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.asDoubleBuffer().put(xs)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try out.write(buf.array()) finally out.close()
  }

  def readDoubles(path: String): Array[Double] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
    val xs = new Array[Double](buf.remaining())
    buf.get(xs)
    xs
  }
}
