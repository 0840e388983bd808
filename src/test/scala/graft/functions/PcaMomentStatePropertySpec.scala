package graft.functions

import java.math.BigInteger

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.SparkSpec

/** Property spec for the exact 128-bit cells of [[PcaMomentState]] /
  * [[PcaMomentSums]] against `BigInteger` arithmetic: random signed
  * 64-bit sequences seeded with the edge addends (`Long.MinValue`,
  * `Long.MaxValue`, ±1, 0), so the low word wraps in both directions and
  * sums go negative. Every sequence is driven through `add`, through the
  * aggregate's `update` over random splits with `serialize`/`deserialize`
  * round trips and `merge` in random order, and read back from the
  * aggregate's decimal(38,0) output. */
class PcaMomentStatePropertySpec extends SparkSpec {

  private val Edges = Seq(Long.MinValue, Long.MaxValue, Long.MinValue + 1,
    Long.MaxValue - 1, -1L, 0L, 1L)

  private def draw(rng: Random): Long = rng.nextInt(4) match {
    case 0 => Edges(rng.nextInt(Edges.length))
    case 1 => rng.nextLong()
    case 2 => rng.nextInt() // small magnitudes, mixed signs
    case _ => if (rng.nextBoolean()) Long.MaxValue - rng.nextInt(1000)
              else Long.MinValue + rng.nextInt(1000)
  }

  private def big(x: Long): BigInteger = BigInteger.valueOf(x)

  /** The two's-complement 128-bit value hi·2⁶⁴ + lo (lo unsigned). */
  private def cell(st: PcaMomentState, c: Int): BigInteger =
    big(st.hi(c)).shiftLeft(64).add(new BigInteger(java.lang.Long.toUnsignedString(st.lo(c))))

  test("add: one cell equals the BigInteger sum, every seed and edge run") {
    val fixed = Seq(
      Seq.fill(50)(Long.MaxValue), // lo wraps upward every other addend
      Seq.fill(50)(Long.MinValue), // negative, hi walks down
      Seq(Long.MaxValue, 1L, -1L, Long.MinValue, Long.MinValue, Long.MaxValue),
      Seq(-1L, -1L, -1L), // small negative sum: hi = -1, lo near 2⁶⁴
      Seq(Long.MinValue, -1L)) // crosses below -2⁶³
    val random = (1 to 200).map { seed =>
      val rng = new Random(seed)
      Seq.fill(rng.nextInt(300))(draw(rng))
    }
    for ((xs, k) <- (fixed ++ random).zipWithIndex) {
      val st = new PcaMomentState(1)
      xs.foreach(st.add(0, _))
      val want = xs.foldLeft(BigInteger.ZERO)((s, x) => s.add(big(x)))
      assert(cell(st, 0) == want, s"sequence $k")
    }
  }

  private val Dim = 2

  /** Expected `(i, j) -> s` rows for 2-dim vectors, with `prod` the
    * second-moment addend of one vector's entries i and j. */
  private def expected(vs: Seq[Array[Long]],
      prod: (Long, Long) => BigInteger): Map[(Int, Int), BigInteger] = {
    val cells = for (i <- 0 until Dim; j <- -1 +: (i until Dim)) yield
      (i, j) -> vs.foldLeft(BigInteger.ZERO)((s, v) =>
        s.add(if (j < 0) big(v(i)) else prod(v(i), v(j))))
    (cells :+ ((-2, -2) -> big(vs.length.toLong))).toMap
  }

  private def decoded(out: Any): Map[(Int, Int), BigInteger] = {
    val arr = out.asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { k =>
      val r = arr.getStruct(k, 3)
      (r.getInt(0), r.getInt(1)) ->
        r.getDecimal(2, 38, 0).toJavaBigDecimal.toBigIntegerExact
    }.toMap
  }

  test("update + serialize/deserialize + merge over random splits: decimal output is exact") {
    val agg = PcaMomentSums(BoundReference(0, ArrayType(LongType, containsNull = false),
      nullable = true), Dim)
    def row(v: Array[Long]): InternalRow = InternalRow(ArrayData.toArrayData(v))
    for (seed <- 1 to 100) {
      val rng = new Random(seed)
      val vs = Seq.fill(1 + rng.nextInt(120))(Array.fill(Dim)(draw(rng)))
      // one buffer over the whole sequence
      val whole = agg.createAggregationBuffer()
      vs.foreach(v => agg.update(whole, row(v)))
      // the same sequence split at random cut points into partials, each
      // shipped through the byte form and merged in shuffled order
      val cuts = (Seq(0, vs.length) ++ Seq.fill(rng.nextInt(5))(rng.nextInt(vs.length + 1)))
        .distinct.sorted
      val partials = cuts.zip(cuts.drop(1)).map { case (a, b) =>
        val buf = agg.createAggregationBuffer()
        vs.slice(a, b).foreach(v => agg.update(buf, row(v)))
        agg.deserialize(agg.serialize(buf))
      }
      val merged = rng.shuffle(partials).foldLeft(agg.createAggregationBuffer())(agg.merge)
      // the kernel's second-moment addend is the 64-bit product (micros
      // inputs keep it exact), so that is what the cells must sum exactly
      val want = expected(vs, (a, b) => big(a * b))
      assert(decoded(agg.eval(whole)) == want, s"seed=$seed: single buffer")
      assert(decoded(agg.eval(merged)) == want, s"seed=$seed: split + merge")
    }
    // zero rows: the empty-state contract
    assert(agg.eval(agg.createAggregationBuffer()).asInstanceOf[ArrayData].numElements() == 0)
  }

  test("through a Spark aggregation: true moments of micros-bounded vectors") {
    import spark.implicits._
    val rng = new Random(7)
    // |x| < 3e9 keeps every product exact in 64 bits, so the cells must
    // equal the true BigInteger moments; four partitions force merges
    val vs = Seq.fill(500)(Array.fill(Dim)(rng.nextLong() % 3000000000L))
    val out = vs.map(_.toSeq).toDF("q").repartition(4)
      .agg(PcaMomentSums(col("q"), Dim).as("m"))
      .select(explode(col("m")).as("r"))
      .select(col("r.i"), col("r.j"), col("r.s"))
      .as[(Int, Int, java.math.BigDecimal)].collect()
      .map { case (i, j, s) => (i, j) -> s.toBigIntegerExact }.toMap
    assert(out == expected(vs, (a, b) => big(a).multiply(big(b))))
  }
}
