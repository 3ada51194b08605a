package perfbench

import graft.core.{Synth, Urls, Xxh64}
import graft.frontier.CrawlConfig
import graft.politeness.Robots

/** The benchmark's workloads. Everything a workload feeds the program —
  * seeds, the page store and the robots table — is a pure function of the
  * workload seed: the site content comes from `Synth.SiteCfg(seed, ...)`, and
  * the throttled hosts and pages are picked by hashing the seed.
  */
final case class Workload(
    name: String,
    hosts: Int,
    cfg: CrawlConfig,
    /** Every page URL is a seed (a known URL list), not just the host roots. */
    listSeeds: Boolean = false,
    withRobots: Boolean = true,
    /** A seed-picked fifth of the hosts answer 429 on two of their pages. */
    throttle: Boolean = false)

object Workloads {

  val all: Seq[Workload] = Seq(
    Workload("scrape_list", hosts = 100,
      CrawlConfig(strategy = "bfs", maxDepth = 0, hostBudget = 200, maxEpochs = 4),
      listSeeds = true, withRobots = false),
    Workload("crawl_bfs", hosts = 100,
      CrawlConfig(strategy = "bfs", hostBudget = 150, maxEpochs = 12)),
    Workload("crawl_polite", hosts = 8,
      CrawlConfig(strategy = "bfs", hostBudget = 40, dynamicPoliteness = true,
        epochSeconds = 40 * graft.politeness.DomainState.BaseDelay, maxEpochs = 80),
      throttle = true))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  def site(w: Workload, seed: Long): Synth.SiteCfg = Synth.SiteCfg(seed, w.hosts, 3, 2, 5)

  // ---- seeded throttling ---------------------------------------------------

  private val ThrottleSalt = 0x7468726f74746c65L

  /** A fifth of the hosts without robots rules (at least one), the ones with
    * the lowest seeded hash. Hosts with rules are left out so that every seed
    * has the same overlap of robots and throttling. */
  def throttledHost(site: Synth.SiteCfg, seed: Long, h: Int): Boolean = {
    val ruled = Synth.robots(site).map(_.host).toSet
    val candidates = (0 until site.nHosts).filterNot(x => ruled(Synth.hostName(site, x)))
    def key(x: Int) = (Xxh64.hashLong(x.toLong, seed ^ ThrottleSalt), x)
    candidates.sortBy(key).take(math.max(1, site.nHosts / 5)).contains(h)
  }

  /** A throttled host answers 429 on two product pages under category 0,
    * picked by hash. BFS admits all of category 0's products in one epoch, so
    * a host sees throttles in that epoch only: it never reaches DomainState's
    * abort threshold, and the number of epochs does not depend on which pages
    * the seed picks.
    */
  def throttledPage(site: Synth.SiteCfg, seed: Long, globalIdx: Long): Boolean = {
    val pph = Synth.pagesPerHost(site)
    val h = (globalIdx / pph).toInt
    Synth.roleOf(site, (globalIdx % pph).toInt) match {
      case Synth.Prod(0, s, p) if throttledHost(site, seed, h) =>
        val n = site.subs * site.prods
        val first = Xxh64.intBelow(seed ^ ThrottleSalt, h * 2L, n)
        val second = (first + 1 + Xxh64.intBelow(seed ^ ThrottleSalt, h * 2L + 1, n - 1)) % n
        val i = s * site.prods + p
        i == first || i == second
      case _ => false
    }
  }

  def statusOf(w: Workload, site: Synth.SiteCfg, seed: Long, globalIdx: Long): Int =
    if (w.throttle && throttledPage(site, seed, globalIdx)) 429 else 200

  def seedUrls(w: Workload, site: Synth.SiteCfg): Seq[(String, String)] =
    if (w.listSeeds)
      (0L until Synth.pageCount(site)).map(i =>
        (Synth.urlOf(site, (i / Synth.pagesPerHost(site)).toInt,
          Synth.roleOf(site, (i % Synth.pagesPerHost(site)).toInt)), "sitemap"))
    else Synth.seeds(site).map(s => (s.url, s.source))

  def robotsRules(w: Workload, site: Synth.SiteCfg): Seq[(String, String)] =
    if (w.withRobots) Synth.robots(site).map(r => (r.host, r.rules)) else Nil

  // ---- expected outcome ----------------------------------------------------

  /** What a drained crawl of the workload must produce, derived from the
    * generator's own link lists (never from the scraper): the URLs that yield
    * docs, the robots-blocked and failed (429) URLs, and every URL seen.
    * Because every site link points one level down or back to an ancestor,
    * the drained sets do not depend on budgets or epoch boundaries.
    */
  final case class Expected(
      docs: Set[String], blocked: Set[String], failed: Set[String], depth: Map[String, Int]) {
    def seen: Set[String] = depth.keySet
  }

  def expected(w: Workload, site: Synth.SiteCfg, seed: Long): Expected = {
    val pph = Synth.pagesPerHost(site)
    val index = (0L until Synth.pageCount(site)).iterator
      .map(i => Synth.urlOf(site, (i / pph).toInt, Synth.roleOf(site, (i % pph).toInt)) -> i)
      .toMap
    val rules = robotsRules(w, site).toMap
    def valid(u: String) = u != null && Urls.isValidCrawlUrl(u) && !Urls.isNonsense(u)
    val seeds = seedUrls(w, site).map(s => Urls.canonicalizeDeep(s._1, "")).filter(valid).distinct
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int] ++= seeds.map(_ -> 0)
    val docs, blocked, failed = Set.newBuilder[String]
    var level: Seq[(String, Int)] = seeds.map(_ -> 0)
    while (level.nonEmpty) {
      val next = Seq.newBuilder[(String, Int)]
      level.foreach { case (u, depth) =>
        if (!Robots.canFetch(rules.getOrElse(Urls.host(u), null), u, w.cfg.userAgent)) blocked += u
        else index.get(u) match {
          case Some(i) if statusOf(w, site, seed, i) == 200 =>
            docs += u
            if (depth + 1 <= w.cfg.maxDepth)
              Synth.pageAt(site, i).expectedLinks.foreach { l =>
                if ((l.internal || w.cfg.includeExternal) && valid(l.href) && !seen.contains(l.href)) {
                  seen(l.href) = depth + 1
                  next += (l.href -> (depth + 1))
                }
              }
          case _ => failed += u
        }
      }
      level = next.result()
    }
    Expected(docs.result(), blocked.result(), failed.result(), seen.toMap)
  }
}
