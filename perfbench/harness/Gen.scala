package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.MiniHdf5Writer

/** Turns the staged CSR arrays (raw little-endian files written by
  * gen.py) into h5ad files with the engine's own writer, so the inputs
  * are whatever that writer produces. */
object Gen {
  private def raw(path: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)

  private def longs(path: String): Array[Long] = {
    val b = raw(path).asLongBuffer()
    Array.tabulate(b.remaining())(b.get)
  }

  private def doubles(path: String): Array[Double] = {
    val b = raw(path).asDoubleBuffer()
    Array.tabulate(b.remaining())(b.get)
  }

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq

  /** Write `<dir>/<name>.h5ad` for every name in `<dir>/manifest.txt`. */
  def writeH5ad(dir: String): Unit =
    lines(s"$dir/manifest.txt").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val base = s"$dir/$n"
      MiniHdf5Writer.writeH5ad(s"$base.h5ad", lines(s"$base.obs"), lines(s"$base.var"),
        doubles(s"$base.data"), longs(s"$base.indices"), longs(s"$base.indptr"))
      Seq("obs", "var", "data", "indices", "indptr")
        .foreach(s => Files.delete(Paths.get(s"$base.$s")))
    }
}
