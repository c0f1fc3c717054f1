package graft

/** Fixture builders only the specs use. */
object TestFixtures {

  /** A solid-color 24-bit BMP — the color-duplicate fixture: two solids
    * with EQUAL integer BT.601 luma but different chroma must match on
    * the luminance grid and differ on the chroma grids. */
  def bmpSolid(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val base = Fixtures.bmpBytes(w, h, seed = 0)
    val rowSize = ((w * 3 + 3) / 4) * 4
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = 54 + y * rowSize + x * 3
        base(o) = b.toByte; base(o + 1) = g.toByte; base(o + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    base
  }
}
