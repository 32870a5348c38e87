package linkbench

import graft.ingest.Pages

/** Seeded inputs for the two PageRank workloads.
  *
  * The number of supersteps PageRank needs to reach 1e-6 on `Pages`' Zipf
  * link graph depends on where the few top hubs link: across generator
  * seeds it ranges from 8 to over 40, with a spread of 20 to 35% between
  * the quartiles. A run's wall would then mostly measure which graph the
  * seed drew. So the link structure is fixed, drawn once at `Structure`
  * (10 to 11 supersteps at the benchmark's sizes, the middle of that
  * range), and `--seed` renames it: the inputs differ on every seed (ids,
  * urls, which partition holds each hub), the work to converge does not.
  */
object Inputs {
  val Structure: Long = Pages.DefaultSeed

  /** A `seed`-derived bijection of `0..n-1`: `i -> (a*i + b) mod n`, with
    * `a` coprime to `n`.
    */
  def permutation(seed: Long, n: Long): Long => Long = {
    require(n > 1 && n < (1L << 31), s"n = $n: a*i + b must not overflow")
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val b = java.lang.Long.remainderUnsigned(Pages.mix64(seed), n)
    val a = Iterator.iterate(1 + java.lang.Long.remainderUnsigned(Pages.mix64(seed + 1), n - 1))(_ % (n - 1) + 1)
      .find(gcd(_, n) == 1).get
    i => (a * i + b) % n
  }
}
