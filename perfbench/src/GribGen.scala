package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}

/** Seeded synthetic GloFAS day: one GRIB2 file per daily leadtime, each
  * holding every ensemble member's field on a reduced regular 0.05° grid,
  * plus a per-cell threshold table.
  *
  * Packing mix, by member (the shape of a real CDS drop that mixes
  * encodings across products):
  *  - member % 17 == 2 → DRS 5.42 CCSDS, every block uncompressed, no
  *    preprocessing (3 of 51 members);
  *  - else member % 3 == 0 → DRS 5.2/5.3 complex packing, spatial
  *    differencing order (member + step) % 3 (16 of 51);
  *  - else → DRS 5.0 simple packing, 16 bits (32 of 51).
  *
  * Thresholds plant which cells survive the pipeline's relevance filter:
  * a "hot" cell's 2-year threshold lies below every value the packings can
  * produce, so every member exceeds it and the cell is never gray; a
  * "cold" cell's thresholds lie above every value, so it is always gray
  * and dropped. `hot(row)(col)` is therefore the exact set of cells the
  * published tables must hold, known without running the program. */
final case class GribDay(dir: Path, ni: Int, nj: Int, hot: Array[Array[Boolean]], bytes: Long) {
  def glob: String = dir.resolve("glofas_lt*.grib2").toString
  def thresholdsPath: String = dir.resolve("thresholds.parquet").toString
  def hotCells: Int = hot.map(_.count(identity)).sum
  /** Cell-centre latitude of grid row `j` (rows run north to south). */
  def lat(j: Int): Double = GribGen.round3(GribGen.LatFirst / 1e6 - j * 0.05)
  /** Cell-centre longitude of grid column `i`. */
  def lon(i: Int): Double = GribGen.round3(GribGen.LonFirst / 1e6 + i * 0.05)
  def hotIn(j0: Int, j1: Int, i0: Int, i1: Int): Int = {
    var n = 0
    for (j <- math.max(j0, 0) to math.min(j1, nj - 1); i <- math.max(i0, 0) to math.min(i1, ni - 1))
      if (hot(j)(i)) n += 1
    n
  }
}

object GribGen {
  val Members = 51
  val Steps: Seq[Int] = (1 to 30).map(_ * 24)
  val LatFirst = 17975000 // micro-degrees
  val LonFirst = -17975000
  val Dinc = 50000
  /** Share of hot (published) cells. */
  val HotShare = 0.6

  def round3(x: Double): Double = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  def kindOf(member: Int): String =
    if (member % 17 == 2) "ccsds" else if (member % 3 == 0) "complex" else "simple"

  /** Writes the day's GRIB files under `dir` and returns the planted
    * layout; the threshold table is written by [[Inputs]]. */
  def write(dir: Path, ni: Int, nj: Int, seed: Long): GribDay = {
    Files.createDirectories(dir)
    val cellRng = new scala.util.Random(seed * 7919L + 17)
    val hot = Array.fill(nj, ni)(cellRng.nextDouble() < HotShare)
    var bytes = 0L
    for (step <- Steps) {
      val out = new ByteArrayOutputStream()
      for (member <- 0 until Members) {
        val rng = new scala.util.Random(((seed * 1000003L + step) * 131L) + member)
        val msg = kindOf(member) match {
          case "ccsds" => ccsds(ni, nj, member, step, rng)
          case "complex" => complex(ni, nj, member, step, (member + step) % 3, rng)
          case _ => simple(ni, nj, member, step, rng)
        }
        out.write(msg)
      }
      val fos = new FileOutputStream(dir.resolve(f"glofas_lt$step%03d.grib2").toFile)
      try out.writeTo(fos) finally fos.close()
      bytes += out.size()
    }
    GribDay(dir, ni, nj, hot, bytes)
  }

  /** Per-cell thresholds as rows (latitude, longitude, t2, t5, t20). Hot
    * cells: t2 below every packable value, t5/t20 spread over the simple
    * packing's 0–655 range so the intensity classes mix; cold cells: all
    * three above every packable value. */
  def thresholdRows(day: GribDay, seed: Long): Seq[(Double, Double, Double, Double, Double)] = {
    val rng = new scala.util.Random(seed * 31L + 5)
    for (j <- 0 until day.nj; i <- 0 until day.ni) yield {
      if (day.hot(j)(i)) {
        val t5 = 50.0 + rng.nextInt(600)
        (day.lat(j), day.lon(i), -1.0 - rng.nextInt(10), t5, t5 + rng.nextInt(300))
      } else (day.lat(j), day.lon(i), 1.0e6, 2.0e6, 4.0e6)
    }
  }

  // ---- GRIB2 encoding (WMO FM 92 edition 2) ----

  private final class Bytes {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    def u8(v: Int): Bytes = { out.writeByte(v); this }
    def u16(v: Int): Bytes = { out.writeShort(v); this }
    def u32(v: Long): Bytes = { out.writeInt(v.toInt); this }
    def i32(v: Int): Bytes = { out.writeInt(v); this }
    def f32(v: Float): Bytes = { out.writeFloat(v); this }
    def s16(v: Int): Bytes = u16(if (v < 0) 0x8000 | -v else v)
    def s32(v: Int): Bytes = u32(if (v < 0) 0x80000000L | (-v).toLong else v.toLong)
    def raw(b: Array[Byte]): Bytes = { out.write(b); this }
    def bytes: Array[Byte] = { out.flush(); buf.toByteArray }
  }

  /** MSB-first bit packer; `bytes` pads the last octet with zeros. */
  private final class BitWriter {
    private val buf = new ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def write(v: Long, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1L).toInt
        n += 1
        if (n == 8) { buf.write(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    def bytes: Array[Byte] = {
      if (n > 0) { buf.write(acc << (8 - n)); acc = 0; n = 0 }
      buf.toByteArray
    }
  }

  private def section(num: Int, body: Array[Byte]): Array[Byte] =
    new Bytes().u32(5L + body.length).u8(num).raw(body).bytes

  private def bitLength(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  private def message(ni: Int, nj: Int, member: Int, step: Int,
      sec5: Array[Byte], sec7: Array[Byte]): Array[Byte] = {
    val npts = ni * nj
    val sec1 = section(1, new Bytes().u16(98).u16(0).u8(2).u8(1).u8(1)
      .u16(2023).u8(10).u8(1).u8(0).u8(0).u8(0).u8(0).u8(1).bytes)
    val sec3 = section(3, new Bytes().u8(0).u32(npts).u8(0).u8(0).u16(0)
      .u8(6).u8(0).u32(0).u8(0).u32(0).u8(0).u32(0)
      .u32(ni).u32(nj).u32(0).u32(0)
      .s32(LatFirst).s32(LonFirst).u8(0x30)
      .s32(LatFirst - (nj - 1) * Dinc).s32(LonFirst + (ni - 1) * Dinc)
      .u32(Dinc).u32(Dinc).u8(0).bytes)
    val sec4 = section(4, new Bytes().u16(0).u16(1)
      .u8(0).u8(197).u8(2).u8(255).u8(255).u16(0).u8(0)
      .u8(1).i32(step).u8(1).u8(0).i32(0).u8(255).u8(0).i32(0)
      .u8(if (member > 0) 3 else 0).u8(member).u8(Members).bytes)
    val sec6 = section(6, Array(255.toByte))
    val body = sec1 ++ sec3 ++ sec4 ++ section(5, sec5) ++ sec6 ++ section(7, sec7)
    new Bytes().raw("GRIB".getBytes("US-ASCII")).u16(0).u8(1).u8(2)
      .u32(0).u32(16L + body.length + 4).raw(body).raw("7777".getBytes("US-ASCII")).bytes
  }

  /** DRS 5.0, 16 bits, D = 2: Y = X / 100. */
  private def simple(ni: Int, nj: Int, member: Int, step: Int, rng: scala.util.Random): Array[Byte] = {
    val npts = ni * nj
    val sec7 = new Bytes()
    for (_ <- 0 until npts) sec7.u16(rng.nextInt(1 << 16))
    val sec5 = new Bytes().u32(npts).u16(0).f32(0f).u16(0).u16(2).u8(16).u8(0).bytes
    message(ni, nj, member, step, sec5, sec7.bytes)
  }

  /** DRS 5.2 (order 0) / 5.3 (order 1 or 2): E = -1, D = 1, uniform group
    * width, fixed group length 64, scaled group lengths all zero. */
  private def complex(ni: Int, nj: Int, member: Int, step: Int, order: Int,
      rng: scala.util.Random): Array[Byte] = {
    val (e, d) = (-1, 1)
    val npts = ni * nj
    val mu = (40 * member) % 7
    val scaled = Array.tabulate(npts) { k =>
      val (j, i) = (k / ni, k % ni)
      val field = 5.0 + 0.001 * i + 0.002 * j + 0.05 * math.round(mu + 8.0 * rng.nextGaussian())
      math.round(field * math.pow(10, d) / math.pow(2, e))
    }
    val tmin = scaled.min
    val r = (tmin * math.pow(2, e)).toFloat
    val s = scaled.map(_ - tmin)
    val seq: Array[Long] = order match {
      case 0 => s
      case 1 => Array.tabulate(npts)(k => if (k < 1) 0L else s(k) - s(k - 1))
      case _ => Array.tabulate(npts)(k => if (k < 2) 0L else s(k) - 2 * s(k - 1) + s(k - 2))
    }
    val dmin = if (order > 0) seq.drop(order).min else 0L
    val h = Array.tabulate(npts)(k => if (k >= order) seq(k) - dmin else seq(k))
    val glen = 64
    val ng = (npts + glen - 1) / glen
    val refs = Array.tabulate(ng)(g => (g * glen until math.min(npts, (g + 1) * glen)).map(h).min)
    val width = bitLength((0 until npts).map(k => h(k) - refs(k / glen)).max)
    val nbits = bitLength(refs.max)
    def signMag3(v: Long): Array[Byte] = {
      val m = if (v < 0) (1L << 23) | -v else v
      Array((m >> 16).toByte, (m >> 8).toByte, m.toByte)
    }
    val head = (0 until order).flatMap(k => signMag3(s(k))) ++
      (if (order > 0) signMag3(dmin).toSeq else Nil)
    val refBits = new BitWriter
    refs.foreach(refBits.write(_, nbits))
    val valBits = new BitWriter
    for (k <- 0 until npts) valBits.write(h(k) - refs(k / glen), width)
    val sec7 = head.toArray ++ refBits.bytes ++ new Array[Byte]((ng * 6 + 7) / 8) ++ valBits.bytes
    val tail = new Bytes().u8(nbits).u8(0).u8(1).u8(0).u32(0).u32(0).u32(ng)
      .u8(width).u8(0).u32(glen).u8(1).u32(npts - (ng - 1) * glen).u8(6)
    if (order > 0) tail.u8(order).u8(3)
    val sec5 = new Bytes().u32(npts).u16(if (order > 0) 3 else 2).f32(r).s16(e).s16(d)
      .raw(tail.bytes).bytes
    message(ni, nj, member, step, sec5, sec7)
  }

  /** DRS 5.42 with every 32-sample block stored uncompressed (4-bit id of
    * all ones + 32 × 12 bits) and preprocessing off; D = 2. */
  private def ccsds(ni: Int, nj: Int, member: Int, step: Int, rng: scala.util.Random): Array[Byte] = {
    val (nbits, j, rsi) = (12, 32, 128)
    val npts = ni * nj
    val x = Array.fill(npts)(rng.nextInt(1 << nbits).toLong)
    val blocks = (npts + j - 1) / j
    val bits = new BitWriter
    for (b <- 0 until blocks) {
      bits.write(0xF, 4)
      for (k <- b * j until (b + 1) * j) bits.write(x(math.min(k, npts - 1)), nbits)
    }
    val sec5 = new Bytes().u32(npts).u16(42).f32(0f).u16(0).u16(2).u8(nbits).u8(0)
      .u8(4).u8(j).u16(rsi).bytes
    message(ni, nj, member, step, sec5, bits.bytes)
  }
}
