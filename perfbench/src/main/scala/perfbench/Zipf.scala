package perfbench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import scala.collection.mutable
import graft.fixtures.SiteFixtures.Page

/** The `zipf-polite` corpus: pages on `nHosts` hosts whose sizes follow a
  * Zipf law (host h holds a share ∝ 1/(h+1)^skew). Pages sit on link levels
  * of fixed sizes; level 0 is the seed set, a hash sample of the pages.
  * Every page of level l+1 has an in-link from level l, each page links
  * forward to random pages of the next level and back to random pages of
  * earlier levels (links the seen set absorbs), so the crawl's depth is
  * the number of levels for every seed. Every third host serves a
  * robots.txt that disallows `/a/`, and about one page in eight sits under
  * `/a/`. Everything is a pure function of the seed and the sizes.
  */
final case class ZipfCorpus(
    pages: Seq[Page],                 // html pages + robots.txt files
    urls: IndexedSeq[String],         // page i's url
    outLinks: IndexedSeq[Seq[Int]],   // page i's link targets
    hrefs: IndexedSeq[Seq[String]],   // page i's raw href attributes
    robotsBody: Map[String, String],  // host → robots.txt body
    seeds: Seq[String]) {

  private val index: Map[String, Int] = urls.zipWithIndex.toMap

  def hostOf(url: String): String = url.split('/')(2)
  def pathOf(url: String): String = url.substring(url.indexOf('/', 8))

  /** Blocked by the one robots rule the corpus uses. */
  def blocked(url: String): Boolean =
    robotsBody.contains(hostOf(url)) && pathOf(url).startsWith("/a/")

  /** Sequential reference BFS over the same link function: the set of
    * pages crawled, the urls robots blocked, and the seen set per wave
    * (for the dedup probes). Politeness only reorders a crawl, so the
    * crawled set does not depend on the token cap.
    */
  def referenceBfs: ZipfCorpus.Bfs = {
    val seen = mutable.LinkedHashSet.empty[String] ++ seeds
    val crawled = mutable.LinkedHashSet.empty[String]
    val robotsBlocked = mutable.LinkedHashSet.empty[String]
    val waves = mutable.ArrayBuffer.empty[Seq[String]]
    var frontier = seeds.distinct
    while (frontier.nonEmpty) {
      waves += frontier
      val next = mutable.ArrayBuffer.empty[String]
      frontier.foreach { u =>
        if (blocked(u)) robotsBlocked += u
        else {
          crawled += u
          outLinks(index(u)).foreach { j =>
            val v = urls(j)
            if (seen.add(v)) next += v
          }
        }
      }
      frontier = next.toSeq
    }
    ZipfCorpus.Bfs(crawled.toSet, robotsBlocked.toSet, seen.toSet, waves.toSeq)
  }

  /** Links discovered while crawling `wave` (duplicates kept) — the dedup
    * layer's candidate input at that wave. */
  def candidatesOf(bfs: ZipfCorpus.Bfs, wave: Int): Seq[String] =
    bfs.waves(wave).filterNot(blocked).flatMap(u => outLinks(index(u)).map(urls))
}

object ZipfCorpus {
  final case class Bfs(crawled: Set[String], robotsBlocked: Set[String],
      seen: Set[String], waves: Seq[Seq[String]])

  private val Ts = Timestamp.valueOf("2024-01-01 00:00:00")
  private val Words = Vector("crawl", "frontier", "polite", "robots", "fetch",
    "parse", "anchor", "host", "wave", "spark", "dedup", "seen", "token",
    "shuffle", "partition", "sketch")

  def generate(seed: Long, levelSizes: Seq[Int], nHosts: Int, forward: Int,
      back: Int, skew: Double): ZipfCorpus = {
    val nPages = levelSizes.sum
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = (0 until nHosts).map(h => 1.0 / math.pow(h + 1, skew))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def zipfHost(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, nHosts - 1)
    }
    val hostOfPage = Array.fill(nPages)(zipfHost())
    val underA = Array.fill(nPages)(rnd.nextInt(8) == 0)
    val urls = (0 until nPages).map { i =>
      s"http://h${hostOfPage(i)}.zipf.test/${if (underA(i)) "a" else "p"}/$i"
    }
    // seeds: the first pages outside /a/ in seeded-hash order; the rest of the
    // pages fill the later levels in a seeded shuffle
    val byHash = (0 until nPages).sortBy(i =>
      (scala.util.hashing.MurmurHash3.productHash((seed, i)), i))
    val (seedIds, others) = {
      val pub = byHash.filterNot(underA)
      val s = pub.take(levelSizes.head)
      (s, rnd.shuffle(byHash.filterNot(s.toSet)))
    }
    val levels: IndexedSeq[IndexedSeq[Int]] = {
      val bounds = levelSizes.tail.scanLeft(0)(_ + _)
      seedIds.toIndexedSeq +: bounds.zip(bounds.tail).map { case (a, b) => others.slice(a, b) }
        .toIndexedSeq
    }
    def pick(level: IndexedSeq[Int]): Int = level(rnd.nextInt(level.size))
    val outLinks = Array.fill(nPages)(Seq.empty[Int])
    for (l <- levels.indices; (p, k) <- levels(l).zipWithIndex) {
      val earlier = levels.take(l + 1).flatten
      val fwd =
        if (l + 1 == levels.size) Nil
        else {
          val next = levels(l + 1)
          val owed = next.indices.filter(_ % levels(l).size == k).map(next)
          owed ++ Seq.fill(math.max(0, forward - owed.size))(pick(next))
        }
      val backN = if (fwd.isEmpty) forward + back else back
      outLinks(p) = fwd ++ Seq.fill(backN)(earlier(rnd.nextInt(earlier.size)))
    }
    // same-host targets use a path-absolute href, others an absolute url
    val hrefs = (0 until nPages).map { i =>
      outLinks(i).map { j =>
        if (hostOfPage(j) == hostOfPage(i)) urls(j).substring(urls(j).indexOf('/', 8))
        else urls(j)
      }
    }
    val robotsBody = (0 until nHosts).filter(_ % 3 == 0)
      .map(h => s"h$h.zipf.test" -> "User-agent: *\nDisallow: /a/\n").toMap
    val htmlPages = (0 until nPages).map { i =>
      val text = Seq.fill(24)(Words(rnd.nextInt(Words.size))).mkString(" ")
      val html = hrefs(i).map(h => s"""<li><a href="$h">$h</a></li>""")
        .mkString(s"<html><head><title>page $i</title></head><body>" +
          s"<h1>Page $i</h1><p>$text</p><ul>", "", "</ul></body></html>")
      Page(urls(i), Ts, html.getBytes(StandardCharsets.UTF_8), text, "en", 200,
        "text/html; charset=utf-8", null)
    }
    val robotsPages = robotsBody.toSeq.sortBy(_._1).map { case (host, body) =>
      Page(s"http://$host/robots.txt", Ts, body.getBytes(StandardCharsets.UTF_8),
        body, "en", 200, "text/plain; charset=utf-8", null)
    }
    ZipfCorpus(htmlPages ++ robotsPages, urls, outLinks.toIndexedSeq, hrefs, robotsBody,
      seedIds.map(urls))
  }
}
