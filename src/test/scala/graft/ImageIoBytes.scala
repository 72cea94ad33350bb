package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

/** Encodes a synthetic RGB image with the JDK's ImageIO writers ("png",
  * "jpeg", "gif"): real-codec bytes for the decode-tier routing tests.
  * ImageIO stays test-only: executors never touch java.desktop. */
object ImageIoBytes {
  def encode(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int),
      format: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(img, format, out), s"JDK $format writer missing")
    out.toByteArray
  }
}
