package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Every workload input is a function of the
  * seed alone, written to plain files before the program sees it; the
  * program only ever reads the files. All values are non-empty
  * `[A-Za-z0-9.-]` strings, so a CSV round trip (no quoting, no null
  * versus empty ambiguity) reproduces them exactly. */
object Gen {

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def double(): Double = r.nextDouble()
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
    def word(min: Int, max: Int): String = {
      val n = min + r.nextInt(max - min + 1)
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
      sb.toString
    }
    def shuffle[T](xs: Array[T]): Array[T] = {
      var i = xs.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
        i -= 1
      }
      xs
    }
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverting the cumulative
    * table; `keyOf` maps a rank to a seeded-permuted key index so the
    * hot keys are spread across the key space. */
  final class Zipf(n: Int, val s: Double, rng: Rng) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private val keyOf = rng.shuffle(Array.range(0, n))
    def next(): Int = {
      val u = rng.double()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      keyOf(math.min(i, n - 1))
    }
  }

  /** Write `header` then one line per row; returns the bytes written. */
  def writeCsv(path: String, header: Seq[String],
               rows: Iterator[Seq[String]]): Long = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try {
      w.write(header.mkString(",")); w.write('\n')
      rows.foreach { r => w.write(r.mkString(",")); w.write('\n') }
    } finally w.close()
    f.length()
  }

  // plain string building rather than String.format: a set-up formats
  // about a million values

  /** `prefix` then `n` zero-padded to `width` digits. */
  def padded(prefix: String, n: Int, width: Int): String = {
    val d = n.toString
    prefix + "0" * (width - d.length) + d
  }

  def custId(i: Int): String = padded("C", i, 7)
  def orderId(i: Int): String = padded("O", i, 8)

  /** `cents` as a decimal amount with two places. */
  def money(cents: Int): String = padded(s"${cents / 100}.", cents % 100, 2)

  def date(year: Int, month: Int, day: Int): String =
    padded(padded(s"$year-", month, 2) + "-", day, 2)
}
