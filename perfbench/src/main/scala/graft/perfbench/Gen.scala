package graft.perfbench

import java.util.SplittableRandom

/** Seeded line-protocol generator for the serving benchmark.
  *
  * The shape follows the IOx `read_filter` fixture: one measurement, five
  * tags with cardinalities 2/10/10/50/100 and one float field. Field
  * values are multiples of 1/4 below 100, so every sum the checks compare
  * is exact in a double whatever order the engine adds in.
  *
  * Everything here is a pure function of the seed: the same seed gives
  * byte-identical line protocol, and the expected answers are computed
  * from the same points with last-write-wins applied to rewritten keys.
  */
object Gen {
  val Measurement = "bench"
  val Field = "f"
  val TagCard: Array[Int] = Array(2, 10, 10, 50, 100)
  val Tags: Array[String] = TagCard.indices.map(i => s"tag$i").toArray
  /** 2020-09-13T12:26:40Z: the first timestamp of every generated table. */
  val T0: Long = 1600000000000000000L
  /** Spacing between consecutive generated points. */
  val StepNs: Long = 10000000L

  def tagValue(tag: Int, v: Int): String = f"t$tag%dv$v%03d"

  /** One point: the tag value indexes, the ns timestamp and the field. */
  final case class Point(tags: Array[Int], time: Long, f: Double) {
    def key: (Seq[Int], Long) = (tags.toSeq, time)
    def line: String = {
      val sb = new java.lang.StringBuilder(96)
      sb.append(Measurement)
      var i = 0
      while (i < tags.length) {
        sb.append(',').append(Tags(i)).append('=').append(tagValue(i, tags(i)))
        i += 1
      }
      sb.append(' ').append(Field).append('=').append(f.toString)
        .append(' ').append(time)
      sb.toString
    }
  }

  private def value(rng: SplittableRandom): Double = rng.nextInt(400) / 4.0

  private def randomTags(rng: SplittableRandom): Array[Int] =
    TagCard.map(c => rng.nextInt(c))

  /** A fresh point per timestamp `t0 + i * StepNs`, i < n. */
  def points(rng: SplittableRandom, n: Int, t0: Long): Vector[Point] =
    Vector.tabulate(n)(i => Point(randomTags(rng), t0 + i * StepNs, value(rng)))

  /** New values for `k` distinct points drawn from `from`, same keys. */
  def rewrites(rng: SplittableRandom, from: IndexedSeq[Point], k: Int)
      : Vector[Point] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(k, from.size)) picked += rng.nextInt(from.size)
    picked.toVector.map(i => from(i).copy(f = value(rng)))
  }

  def lp(points: Seq[Point]): String = points.iterator.map(_.line).mkString("\n")

  /** The store a reader should see after `batches` land in order: the
    * last write of each (tags, time) key wins. */
  def lastWriteWins(batches: Seq[Seq[Point]]): Vector[Point] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[(Seq[Int], Long), Point]
    batches.foreach(_.foreach(p => m(p.key) = p))
    m.valuesIterator.toVector
  }

  /** The `query_mix` table: `rows` points written as `batches` large
    * writes, then one write that rewrites `rewriteShare` of them. */
  final case class MixData(seed: Long, writes: Vector[Vector[Point]]) {
    lazy val expected: Vector[Point] = lastWriteWins(writes)
    def rows: Int = writes.iterator.map(_.size).sum
  }

  def mix(seed: Long, rows: Int, batches: Int, rewriteShare: Double): MixData = {
    val rng = new SplittableRandom(seed)
    val base = points(rng, rows, T0)
    val per = (rows + batches - 1) / batches
    val chunks = base.grouped(per).toVector
    MixData(seed, chunks :+ rewrites(rng, base, (rows * rewriteShare).toInt))
  }

  /** The `write_read_growth` sequence: round r writes `lines` new points
    * in its own time slab plus rewrites of points from earlier rounds. */
  final case class GrowthData(seed: Long, rounds: Vector[Vector[Point]],
      fresh: Vector[Vector[Point]], slabNs: Long) {
    def slab(r: Int): (Long, Long) = (T0 + r * slabNs, T0 + (r + 1) * slabNs)
    lazy val expected: Vector[Point] = lastWriteWins(rounds)
  }

  def growth(seed: Long, rounds: Int, lines: Int, rewriteShare: Double)
      : GrowthData = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val slabNs = lines.toLong * StepNs
    val fresh = Vector.tabulate(rounds)(r => points(rng, lines, T0 + r * slabNs))
    val all = Vector.tabulate(rounds) { r =>
      val earlier = fresh.take(r).flatten
      fresh(r) ++ (if (r == 0) Vector.empty
        else rewrites(rng, earlier, (lines * rewriteShare).toInt))
    }
    GrowthData(seed, all, fresh, slabNs)
  }

  /** Distinct values of each tag in `ps`, for the recorded cardinalities. */
  def cardinalities(ps: Seq[Point]): Seq[Int] =
    TagCard.indices.map(i => ps.iterator.map(_.tags(i)).toSet.size)
}
