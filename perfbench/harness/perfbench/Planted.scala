package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

/** Seeded image content, written without graft's codecs so the checks
  * compare graft's output against values graft never computed.
  */
object Planted {

  /** A uint16 frame that looks like a fluorescence image: a dim noisy
    * background with a few bright separable Gaussian blobs, so PNG
    * compresses it the way it compresses real frames, not like noise.
    */
  def frame(seed: Long, w: Int, h: Int): Array[Int] = {
    val r = new SplittableRandom(seed)
    val px = Array.fill(w * h)(900 + r.nextInt(64))
    for (_ <- 0 until 6) {
      val amp = 2000 + r.nextInt(20000)
      val (cx, cy) = (r.nextInt(w), r.nextInt(h))
      val sd = 4.0 + r.nextInt(16)
      val gx = Array.tabulate(w)(x => math.exp(-0.5 * math.pow((x - cx) / sd, 2)))
      val gy = Array.tabulate(h)(y => math.exp(-0.5 * math.pow((y - cy) / sd, 2)))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(y * w + x) = math.min(65535, px(y * w + x) + (amp * gx(x) * gy(y)).toInt)
          x += 1
        }
        y += 1
      }
    }
    px
  }

  /** An uncompressed little-endian multi-page uint16 TIFF whose first
    * page carries the ImageJ-style dimension description.
    */
  def tiff(pages: Seq[Array[Int]], w: Int, h: Int, desc: String): Array[Byte] = {
    val descBytes = (desc + "\u0000").getBytes("US-ASCII")
    val nTags = 10
    val ifdSize = 2 + nTags * 12 + 4
    val pageBytes = w * h * 2
    val total = 8 + descBytes.length + pages.size * (pageBytes + ifdSize)
    val b = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    b.put("II".getBytes("US-ASCII")).putShort(42.toShort).putInt(0)
    val descOff = b.position()
    b.put(descBytes)
    var prevNext = 4 // where the previous IFD's "next" pointer lives
    pages.foreach { px =>
      val dataOff = b.position()
      px.foreach(v => b.putShort(v.toShort))
      val ifdOff = b.position()
      b.putInt(prevNext, ifdOff)
      b.putShort(nTags.toShort)
      def tag(t: Int, typ: Int, n: Int, v: Int): Unit = {
        b.putShort(t.toShort).putShort(typ.toShort).putInt(n)
        if (typ == 3 && n == 1) b.putShort(v.toShort).putShort(0.toShort)
        else b.putInt(v)
      }
      tag(256, 4, 1, w)
      tag(257, 4, 1, h)
      tag(258, 3, 1, 16)
      tag(259, 3, 1, 1)
      tag(262, 3, 1, 1)
      tag(270, 2, descBytes.length, descOff)
      tag(273, 4, 1, dataOff)
      tag(277, 3, 1, 1)
      tag(278, 4, 1, h)
      tag(279, 4, 1, pageBytes)
      prevNext = b.position()
      b.putInt(0)
    }
    b.array()
  }
}
