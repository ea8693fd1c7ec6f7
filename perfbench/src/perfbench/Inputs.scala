package perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** Seeded generators for the benchmark's inputs, and the reference
  * computations the output checks compare against. Nothing here calls
  * into the program: the checks must stay valid if the program is wrong.
  */
object Rng {
  /** splitmix64 finalizer: a stateless, well-mixed hash of one long. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from stream `seed`, position `i`. */
  def unit(seed: Long, i: Long): Double =
    (mix(mix(seed) ^ (i * 0xD1B54A32D192ED03L)) >>> 11) * (1.0 / (1L << 53))
}

/** A noisy uint16 volume that looks like a fluorescence stack: a dim
  * background, two populations of Gaussian "cells" (each the outer
  * product of per-axis bump profiles, so a voxel costs O(1)), and
  * signal-dependent noise with Poisson-like variance. Every voxel is
  * a pure function of (seed, z, y, x), so any reader of any subset
  * can be checked without holding the volume.
  */
final case class Volume(seed: Long, n: Int, profiles: Array[Array[Double]],
    amps: Array[Double]) {

  def value(z: Int, y: Int, x: Int): Int = {
    var signal = 0.0
    var k = 0
    while (k < amps.length) {
      signal += amps(k) * profiles(3 * k)(z) * profiles(3 * k + 1)(y) * profiles(3 * k + 2)(x)
      k += 1
    }
    val mean = Volume.Background + signal
    val u = Rng.unit(seed, (z.toLong * n + y) * n + x)
    // uniform noise with the variance of a Poisson count at `mean`
    val v = math.round(mean + (u - 0.5) * 3.4641016151377544 * math.sqrt(mean))
    math.max(0L, math.min(65535L, v)).toInt
  }

  /** One z-y-x block as little-endian uint16 bytes. */
  def blockBytes(origin: Seq[Long], shape: Seq[Int]): Array[Byte] = {
    val buf = ByteBuffer.allocate(shape.product * 2).order(ByteOrder.LITTLE_ENDIAN)
    val (z0, y0, x0) = (origin(0).toInt, origin(1).toInt, origin(2).toInt)
    var z = 0
    while (z < shape(0)) {
      var y = 0
      while (y < shape(1)) {
        var x = 0
        while (x < shape(2)) { buf.putShort(value(z0 + z, y0 + y, x0 + x).toShort); x += 1 }
        y += 1
      }
      z += 1
    }
    buf.array()
  }

  /** The whole volume, z-y-x order. */
  def full(): Array[Int] = {
    val out = new Array[Int](n * n * n)
    var i = 0
    for (z <- 0 until n; y <- 0 until n; x <- 0 until n) { out(i) = value(z, y, x); i += 1 }
    out
  }
}

object Volume {
  val Background = 100.0

  /** Each axis profile places its bumps one per stratum of the axis,
    * jittered within the stratum, and deals a fixed set of widths in a
    * seeded order: the seed moves the cells, while the share of the
    * volume they cover, and so the cost of compressing it, stays put.
    */
  def apply(seed: Long, n: Int): Volume = {
    val amps = Array(1200.0, 1800.0)
    val profiles = Array.tabulate(3 * amps.length) { a =>
      val s = Rng.mix(seed * 31 + a)
      val bumps = math.max(2, n / 24)
      val stride = n.toDouble / bumps
      val widths = (0 until bumps).sortBy(b => Rng.mix(s ^ b)).map(b => 1.5 + 4.0 * (b + 0.5) / bumps)
      val p = new Array[Double](n)
      (0 until bumps).foreach { b =>
        val c = (b + 0.25 + 0.5 * Rng.unit(s, b)) * stride
        val sigma = widths(b)
        (0 until n).foreach { i =>
          val d = (i - c) / sigma
          p(i) += math.exp(-0.5 * d * d)
        }
      }
      p.map(math.min(1.0, _))
    }
    Volume(seed, n, profiles, amps)
  }

  /** Bin-shrink by 2 on every axis, rounding as `floor(mean + 0.5)`. */
  def binShrink2(in: Array[Int], n: Int): Array[Int] = {
    val m = n / 2
    val out = new Array[Int](m * m * m)
    var i = 0
    for (z <- 0 until m; y <- 0 until m; x <- 0 until m) {
      var s = 0L
      for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
        s += in(((2 * z + dz) * n + 2 * y + dy) * n + 2 * x + dx)
      out(i) = math.floor(s / 8.0 + 0.5).toInt
      i += 1
    }
    out
  }
}

/** A seeded corpus with the structure a web-text dedup pass meets:
  * singles drawn from one shared Zipf vocabulary, planted families of
  * near-copies (each member swaps the last two words of the family's
  * base text for unique tokens, so every within-family pair has shingle
  * Jaccard ≈ 0.92 and LSH misses it with probability ~1e-9), decoy
  * families that swap the last `DecoyTail` words instead (shingle
  * Jaccard ≈ 0.68: LSH makes ~98 % of their pairs candidates, and
  * verification at 0.8 must drop every one), and one clique of identical
  * boilerplate documents sized just past the AUTO hot-bucket threshold
  * `max(64, ⌈√(2·16·docs)⌉)` of `TextDedup.lshCandidatesWithDecision`.
  *
  * `group(i)` is the planted cluster of doc i: its own id for singles
  * and decoy members, `-1 - family` for family members, and `Clique`
  * for boilerplate. `decoy(i)` is the decoy family of doc i, or -1.
  */
final case class Corpus(texts: Array[String], group: Array[Long], decoy: Array[Int],
    families: Int, familyPairs: Long, decoys: Int, decoyPairs: Long,
    clique: Int, hotThreshold: Long) {
  def docs: Int = texts.length
  def cliquePairs: Long = clique.toLong * (clique - 1) / 2
  def expectedClusters: Long = group.distinct.length.toLong
}

object Corpus {
  val Clique: Long = Long.MinValue
  private val Single: Long = Long.MaxValue
  val Words = 50
  val Bands = 16
  /** Words a decoy member swaps: shingle Jaccard (48 − 9) / (48 + 9) ≈ 0.68. */
  val DecoyTail = 9

  def apply(seed: Long, singles: Int, families: Int, decoys: Int, vocab: Int): Corpus = {
    // Zipf(1.0) over `vocab` words via inverse-CDF lookup
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    var draw = 0L
    def word(): String = {
      val u = Rng.unit(seed, draw); draw += 1
      val i = java.util.Arrays.binarySearch(cdf, u)
      "w" + math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    def text(): Array[String] = Array.fill(Words)(word())

    val texts = Array.newBuilder[String]
    val group = Array.newBuilder[Long]
    val decoy = Array.newBuilder[Int]
    (0 until singles).foreach { _ => texts += text().mkString(" "); group += Single; decoy += -1 }
    /** Families of near-copies: member m > 0 swaps the base's last
      * `tail` words for unique tokens. Returns the within-family pairs.
      */
    def plant(count: Int, sizeSeed: Long, tail: Int, tag: String)(add: (String, Int) => Unit): Long =
      (0 until count).map { f =>
        val size = memberCount(sizeSeed, f)
        val base = text()
        (0 until size).foreach { m =>
          val t = base.clone()
          if (m > 0) (Words - tail until Words).foreach(w => t(w) = s"$tag${f}m${m}w$w")
          add(t.mkString(" "), f)
        }
        size.toLong * (size - 1) / 2
      }.sum
    val familyPairs = plant(families, seed ^ 0xfa, 2, "f") { (t, f) =>
      texts += t; group += -1L - f; decoy += -1 }
    val decoyPairs = plant(decoys, seed ^ 0xdc, DecoyTail, "d") { (t, f) =>
      texts += t; group += Single; decoy += f }
    val others = singles + (0 until families).map(memberCount(seed ^ 0xfa, _)).sum +
      (0 until decoys).map(memberCount(seed ^ 0xdc, _)).sum
    // smallest clique whose shared bucket exceeds the AUTO threshold
    def threshold(b: Int): Long =
      math.max(64L, math.ceil(math.sqrt(2.0 * Bands * (others + b))).toLong)
    var b = 2
    while (b <= threshold(b)) b += 1
    b += 8 // a few past the threshold, so rounding never decides
    val boiler = (0 until Words).map(j => s"b$j").mkString(" ")
    (0 until b).foreach { _ => texts += boiler; group += Clique; decoy += -1 }

    // seeded shuffle of the doc order, so ids carry no structure
    val t0 = texts.result(); val g0 = group.result(); val d0 = decoy.result()
    val order = t0.indices.sortBy(i => Rng.mix(seed * 7919 + i)).toArray
    val ts = order.map(t0)
    val gs = order.indices.map { id => val g = g0(order(id)); if (g == Single) id.toLong else g }.toArray
    Corpus(ts, gs, order.map(d0), families, familyPairs, decoys, decoyPairs, b, threshold(b))
  }

  /** 2..4 members for family `f` of a size stream. */
  private def memberCount(sizeSeed: Long, f: Int): Int = 2 + (Rng.unit(sizeSeed, f) * 3).toInt

  /** Distinct word 3-shingles: single-space split, empties dropped. */
  def shingles(text: String): java.util.HashSet[String] = {
    val ws = text.split(' ').filter(_.nonEmpty)
    val out = new java.util.HashSet[String]()
    var i = 0
    while (i + 3 <= ws.length) { out.add(ws(i) + " " + ws(i + 1) + " " + ws(i + 2)); i += 1 }
    out
  }

  def jaccard(a: java.util.HashSet[String], b: java.util.HashSet[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    var inter = 0
    val it = small.iterator()
    while (it.hasNext) if (big.contains(it.next())) inter += 1
    inter.toDouble / (a.size + b.size - inter)
  }
}
