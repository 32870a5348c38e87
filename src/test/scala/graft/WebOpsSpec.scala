package graft

import graft.text.{TextOps, WebOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WebOpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def norm(urls: String*): Seq[String] = {
    val df = urls.toDF("url")
    df.select(WebOps.normalizeUrl(col("url"))).collect().map(_.getString(0)).toSeq
  }

  test("normalizeUrl: each documented rule") {
    assert(norm("HTTPS://Example.COM/Path/One#frag") == Seq("https://example.com/Path/One"))
    assert(norm("https://example.com:443/a", "http://example.com:80/a",
      "https://example.com:8443/a") ==
      Seq("https://example.com/a", "http://example.com/a", "https://example.com:8443/a"))
    assert(norm("https://e.com/a?utm_source=x&id=3&fbclid=z&ref=r") == Seq("https://e.com/a?id=3"))
    assert(norm("https://e.com/a?utm_campaign=x") == Seq("https://e.com/a"))
    assert(norm("https://e.com/a/", "https://e.com/") == Seq("https://e.com/a", "https://e.com"))
    // non-tracking params keep their original order and case
    assert(norm("https://e.com/a?B=2&a=1") == Seq("https://e.com/a?B=2&a=1"))
    // port is NOT stripped for a non-default scheme/port combination
    assert(norm("http://e.com:443/a") == Seq("http://e.com:443/a"))
  }

  test("host: lowercased, port-stripped") {
    val hs = Seq("HTTPS://Site7.Example.COM:443/x", "http://a.b.c/p?q=1")
      .toDF("url").select(WebOps.host(col("url"))).collect().map(_.getString(0)).toSeq
    assert(hs == Seq("site7.example.com", "a.b.c"))
  }

  test("urlDedup: case/port/tracking/fragment variants collapse to one key") {
    val pages = Seq(
      (0L, "HTTPS://A.com:443/x?utm_source=f"),
      (1L, "https://a.com/x#top"),
      (2L, "https://a.com/x/"),
      (3L, "https://a.com/y")).toDF("doc_id", "url")
    val d = WebOps.urlDedup(pages).orderBy("norm_url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(d == Seq(("https://a.com/x", 3L, 0L), ("https://a.com/y", 1L, 3L)))
  }

  test("domainStats + domainFilter") {
    val pages = Seq(
      (0L, "https://a.com/1", "xx"),
      (1L, "https://a.com/1?utm_source=f", "yyyy"),
      (2L, "https://b.com/1", "zzz")).toDF("doc_id", "url", "text")
    val st = WebOps.domainStats(pages).orderBy("host")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(st == Seq(("a.com", 2L, 1L, 6L), ("b.com", 1L, 1L, 3L)))
    assert(WebOps.domainFilter(pages, Seq("a.com")).count() == 1)
    // large-blocklist path (broadcast anti-join)
    val big = (0 until 2000).map(i => s"h$i.com") :+ "a.com"
    assert(WebOps.domainFilter(pages, big).count() == 1)
  }

  test("domainAuthority == PageRank on the hand-contracted host graph") {
    // 6 pages on 3 hosts (host = id % 3); links chosen so host 0 is the hub
    val g = graft.core.LinkGraph(spark, 6,
      Seq((1L, 0L), (2L, 0L), (4L, 3L), (5L, 3L), (3L, 0L), (0L, 1L), (1L, 2L)),
      directed = true)
    val hostOf = g.vertices.select(col("id"), (col("id") % 3).as("host"))
    val auth = WebOps.domainAuthority(g, hostOf, nHosts = 3, iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand-contracted host graph: (1,0),(2,0),(1,0),(0,0),(0,1),(1,2) with
    // summed weights -> same kernel directly
    val he = Seq((1L, 0L, 2.0), (2L, 0L, 2.0), (0L, 0L, 1.0), (0L, 1L, 1.0), (1L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val hg = graft.core.LinkGraph(he, directed = true, Some(3L))
    val direct = graft.algos.PageRank.run(hg, fixedIters = Some(12)).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L until 3L).foreach(h => assert(math.abs(auth(h) - direct(h)) < 1e-12))
    assert(auth(0L) == auth.values.max) // the all-links-in host dominates
  }

  test("trustRank: trust stays in the seed-reachable set; spam mass flags the rest") {
    // two disconnected host pairs: {0,1} mutual (0 trusted), {2,3} mutual
    // (a link farm) — identical link structure, so plain PageRank can't
    // tell them apart but TrustRank can
    val g = graft.core.LinkGraph(spark, 4,
      Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L)), directed = true)
    val hostOf = g.vertices.select(col("id"), col("id").as("host"))
    val tr = WebOps.trustRank(g, hostOf, nHosts = 4, trustedHosts = Seq(0L),
      iters = 60)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // trust is a distribution (dangling-free graph): sums to 1
    assert(math.abs(tr.values.map(_._1).sum - 1.0) < 1e-9)
    // plain PageRank is symmetric across the two pairs: 0.25 each
    tr.values.foreach { case (_, auth, _) => assert(math.abs(auth - 0.25) < 1e-9) }
    // the farm gets (geometrically vanishing) trust and spam_mass ≈ 1;
    // the trusted pair's rank is over-accounted by trust (clean core)
    assert(tr(2L)._1 < 1e-4 && tr(3L)._1 < 1e-4)
    assert(tr(2L)._3 > 0.999 && tr(3L)._3 > 0.999)
    assert(tr(0L)._3 < 0 && tr(1L)._3 < 0)
    // converged closed form for the trusted pair: t0 = 1/(1+d), t1 = d/(1+d)
    // (geometric convergence: residual ~ 0.85^60 ≈ 6e-5 at 60 iterations)
    assert(math.abs(tr(0L)._1 - 1 / 1.85) < 1e-4)
    assert(math.abs(tr(1L)._1 - 0.85 / 1.85) < 1e-4)
  }

  test("gopherStats: hand-computed doc + degenerate short docs") {
    val docs = Seq(
      // 6 words: "the cat sat on the mat": one dup word (the), 5 2-grams all
      // distinct, 4 3-grams distinct; stopword hits: only "the" = 1
      (0L, "the cat sat on the mat"),
      (1L, "word"), // single word: no 2-grams -> zero dup fracs
      (2L, "go go go go go go go go go go")) // pathological repetition
      .toDF("doc_id", "text")
    val g = TextOps.gopherStats(docs).orderBy("doc_id").collect()
    val d0 = g(0)
    assert(d0.getAs[Int]("word_count") == 6)
    assert(math.abs(d0.getAs[Double]("dup_word_frac") - (1.0 - 5.0 / 6)) < 1e-6)
    assert(d0.getAs[Double]("dup_2gram_frac") == 0.0)
    assert(d0.getAs[Double]("dup_3gram_frac") == 0.0)
    assert(d0.getAs[Int]("stopword_hits") == 1)
    // top 2-gram: all 5 distinct, each count 1 -> max(len) = len("the cat")=7? no:
    // grams: "the cat","cat sat","sat on","on the","the mat" -> max chars 7
    assert(math.abs(d0.getAs[Double]("top_2gram_char_frac") - 7.0 / 22) < 1e-5)
    val d1 = g(1)
    assert(d1.getAs[Int]("word_count") == 1 && d1.getAs[Double]("dup_2gram_frac") == 0.0
      && d1.getAs[Double]("top_2gram_char_frac") == 0.0)
    val d2 = g(2)
    assert(math.abs(d2.getAs[Double]("dup_word_frac") - 0.9) < 1e-6)
    // 9 identical 2-grams "go go": dup frac 8/9; top cover = 9 * 5 / 29 chars
    assert(math.abs(d2.getAs[Double]("dup_2gram_frac") - 8.0 / 9) < 1e-5)
    assert(math.abs(d2.getAs[Double]("top_2gram_char_frac") - 45.0 / 29) < 1e-4)
    assert(d2.getAs[Int]("gopher_pass") == 0) // fails repetition rules
  }

  test("capPerDomain: top-N per host by order column, deterministic tiebreak") {
    val pages = Seq(
      (0L, "https://a.com/x", 100L), (1L, "https://a.com/y", 300L),
      (2L, "https://a.com/z", 200L), (3L, "https://a.com/w", 300L),
      (4L, "https://b.com/1", 50L)).toDF("doc_id", "url", "n_chars")
    val kept = WebOps.capPerDomain(pages, maxPerDomain = 2, orderCol = "n_chars")
      .select("doc_id", "host", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // a.com: 300-chars docs 1 and 3 win, tie broken by ascending doc_id
    assert(kept.toSeq == Seq((1L, "a.com", 1L), (3L, "a.com", 2L), (4L, "b.com", 1L)))
    // the cap holds per host and every host survives with >=1 page
    val big = WebOps.capPerDomain(pages, maxPerDomain = 1, orderCol = "n_chars")
    assert(big.groupBy("host").count().collect().forall(_.getLong(1) == 1L))
    intercept[IllegalArgumentException] {
      WebOps.capPerDomain(pages, maxPerDomain = 0, orderCol = "n_chars")
    }
  }

  test("capPerDomain: two-level top-N aggregate == row_number window (skewed hosts)") {
    // 600 pages over a Zipf-ish host mix (one mega-host with 500 pages),
    // many order-column ties, spread over several input partitions — pins
    // the r06 map-side partial top-N rewrite to the window semantics it
    // replaced, row for row including rk
    val pages = spark.range(600).repartition(7)
      .select(col("id").as("doc_id"),
        concat(lit("https://h"),
          when(col("id") < 500, lit(0)).otherwise(col("id") % 13), lit(".com/p"),
          col("id")).as("url"),
        (col("id") % 9 * 10).as("n_chars"))
    val got = WebOps.capPerDomain(pages, maxPerDomain = 5, orderCol = "n_chars")
      .select("doc_id", "host", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("n_chars").desc, col("doc_id").asc)
    val want = pages.withColumn("host", WebOps.host(col("url")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 5)
      .select("doc_id", "host", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(got == want)
  }

  test("capPerDomain: NaN and null order values sort as in the row_number window") {
    // NaN sorts greatest (first under DESC), null last; ties, NaN pairs and
    // null pairs fall to the ascending-id tiebreak
    val pages = spark.range(120).repartition(5)
      .select(col("id").as("doc_id"),
        concat(lit("https://h"), col("id") % 4, lit(".com/p"), col("id")).as("url"),
        when(col("id") % 5 === 0, lit(Double.NaN))
          .when(col("id") % 7 === 0, lit(null).cast("double"))
          .otherwise((col("id") % 6).cast("double")).as("score"))
    def window(n: Int) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host")).orderBy(col("score").desc, col("doc_id").asc)
      pages.withColumn("host", WebOps.host(col("url")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= n)
    }
    for (n <- Seq(3, 8, 30)) {
      def rows(df: DataFrame) = df.select("doc_id", "host", "rk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      val got = rows(WebOps.capPerDomain(pages, maxPerDomain = n, orderCol = "score"))
      assert(got == rows(window(n)), s"maxPerDomain = $n")
    }
  }

  test("anchorText: top-k terms per target, count-desc with term tiebreak") {
    val links = Seq(
      (1L, "Cheap Flights"), (1L, "cheap   flights"), (1L, "flights"),
      (1L, "best cheap deals"), (1L, "deals"),
      (2L, "zz aa")).toDF("dst", "anchor")
    val out = WebOps.anchorText(links, topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    // dst 1: cheap=3, flights=3, deals=2, best=1 -> top2 = cheap, flights
    //        (tie on 3 broken alphabetically); case folded; runs of spaces
    //        produce no empty terms
    // dst 2: aa=1, zz=1 -> alphabetical
    assert(out.toSeq == Seq(
      (1L, "cheap", 3L, 1L), (1L, "flights", 3L, 2L),
      (2L, "aa", 1L, 1L), (2L, "zz", 1L, 2L)))
    intercept[IllegalArgumentException] { WebOps.anchorText(links, topK = 0) }
  }

  test("resolveRedirects: chains, terminals, cycles and cycle-feeders") {
    // 7->6->5->4 (terminal), 1->0 (terminal), 13<->17 cycle, 14->13 feeds it
    val red = Seq((7L, 6L), (6L, 5L), (5L, 4L), (1L, 0L),
      (13L, 17L), (17L, 13L), (14L, 13L)).toDF("src", "dst")
    val out = WebOps.resolveRedirects(red).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 0L, 1L, 0L), (5L, 4L, 1L, 0L), (6L, 4L, 2L, 0L), (7L, 4L, 3L, 0L),
      (13L, -1L, -1L, 1L), (14L, -1L, -1L, 1L), (17L, -1L, -1L, 1L)))
    // empty map resolves to an empty result with the right schema
    val empty = WebOps.resolveRedirects(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.columns.toSeq == Seq("src", "final_dst", "hops", "is_cycle"))
    assert(empty.count() == 0)
    // a long chain (64 hops) resolves with exact hop counts in log rounds
    val chain = (1L to 64L).map(i => (i, i - 1)).toDF("src", "dst")
    val far = WebOps.resolveRedirects(chain).where(col("src") === 64L).collect()
    assert(far.head.getLong(1) == 0L && far.head.getLong(2) == 64L)
  }

  test("frontier: indegree-from-crawled ranking of uncrawled pages") {
    val edges = Seq((0L, 10L), (0L, 11L), (1L, 10L), (2L, 12L),
      (10L, 11L), (5L, 13L), (1L, 0L)).toDF("src", "dst")
    val crawled = Seq(0L, 1L, 2L).toDF("id")
    val out = WebOps.frontier(edges, crawled, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 10 has 2 crawled inlinks; 11 and 12 tie at 1 (10->11 doesn't count:
    // 10 is uncrawled; 5->13 doesn't count: 5 is uncrawled; 1->0 excluded:
    // 0 is already crawled) -> id tiebreak keeps 11; k=2 bounds the output
    assert(out.toSeq == Seq((10L, 2L, 1L), (11L, 1L, 2L)))
    intercept[IllegalArgumentException] { WebOps.frontier(edges, crawled, 0) }
  }
}
