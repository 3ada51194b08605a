package perfbench

import graft.core.{Span, Synth, Urls}
import graft.frontier.Crawl
import graft.oracle.SeqOracle
import graft.politeness.Robots
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** What one set-up leaves for the timed calls: the session and the
  * program's inputs as DataFrames. */
final case class Inputs(spark: SparkSession, pages: DataFrame, seeds: DataFrame, robots: DataFrame)

/** The inputs of the timed calls and the expected outcome they are checked
  * against. The expected outcome is computed once per run, outside set-up. */
final class Env(
    val in: Inputs,
    val w: Workload,
    val seed: Long,
    val site: Synth.SiteCfg,
    val work: Path,
    val exp: Workloads.Expected,
    val spanHash: Map[String, Long],
    val oracleVisits: Option[Seq[(Int, Int, String, Int)]]) {

  def spark: SparkSession = in.spark
  def withInputs(in2: Inputs): Env = new Env(in2, w, seed, site, work, exp, spanHash, oracleVisits)

  /** Docs one call must produce: the drained crawl's docs. */
  val expectedDocs: Map[String, Long] = exp.docs.iterator.map(u => u -> spanHash(u)).toMap
  val seenHashes: Set[Long] = exp.seen.map(Urls.urlHash)
}

/** One committed epoch record, as the call left it on disk. */
final case class Manifest(epoch: Int, kind: String, fetched: Long, failed: Long,
    skipped: Long, queued: Long, seenTotal: Long, seenBase: Long, wallMs: Long, mtimeMicros: Long) {
  def admitted: Long = fetched + failed + skipped
  /** A crawl epoch, not the bootstrap record. */
  def crawled: Boolean = kind == "epoch"
}

object Manifest {
  private def num(s: String, k: String): Long =
    ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)

  /** Every manifest of a run directory, in epoch order. */
  def all(runDir: Path): Seq[Manifest] = {
    val s = Files.list(runDir)
    val files = try s.iterator().asScala.toSeq finally s.close()
    files.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("manifest_") || !n.endsWith(".json")) None
      else {
        val e = n.stripPrefix("manifest_").stripSuffix(".json").toInt
        val j = Files.readString(p)
        val kind = "\"kind\":\"([a-z]+)\"".r.findFirstMatchIn(j).map(_.group(1)).getOrElse("epoch")
        Some(Manifest(e, kind, num(j, "fetched"), num(j, "failed"), num(j, "skipped_robots"),
          num(j, "frontier_queued"), num(j, "seen_total"), num(j, "seen_base"), num(j, "wall_ms"),
          Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS)))
      }
    }.sortBy(_.epoch)
  }
}

/** Measurements of one timed call. */
final case class Call(
    wallS: Double, pages: Long, firstDocsS: Double, cpuMs: Double,
    gcMs: Long, jitMs: Long, bytesAdded: Long, filesAdded: Long, rssPeakMb: Double,
    deliveredCpu: Double, otherCores: Double, startMicros: Long, endMicros: Long,
    manifests: Seq[Manifest], outcome: Check.Outcome, error: Option[String]) {
  def crawlEpochs: Seq[Manifest] = manifests.filter(_.crawled)
  def epochMs: Seq[Long] = crawlEpochs.map(_.wallMs)
  def pagesPerS: Double = pages / wallS
  def epochP50: Double = Stats.median(epochMs.map(_.toDouble))
  def cpuMsPerPage: Double = cpuMs / math.max(pages, 1L)
  def bytesPerPage: Double = bytesAdded.toDouble / math.max(pages, 1L)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Bench {
  val Cores = 4
  /** Epochs of the warm-up crawl: enough to run every phase of an epoch. A
    * complete small crawl doubles the warm-up's cost for ~15% off the first
    * call's wall. */
  val WarmEpochs = 1

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The page store as the program sees it: (url_hash, url, html, status_code). */
  private def writeStore(spark: SparkSession, w: Workload, site: Synth.SiteCfg, seed: Long,
                         dir: Path): Unit = {
    import spark.implicits._
    spark.range(0, Synth.pageCount(site), 1, 16)
      .map { i =>
        val p = Synth.pageRecAt(site, i)
        (p.url_hash, p.url, p.html, Workloads.statusOf(w, site, seed, i))
      }
      .toDF("url_hash", "url", "html", "status_code")
      .write.parquet(dir.toString)
  }

  def inputs(spark: SparkSession, w: Workload, site: Synth.SiteCfg, store: Path): Inputs = {
    import spark.implicits._
    val seeds = Workloads.seedUrls(w, site).toDF("url", "source")
    val robots = Workloads.robotsRules(w, site).map { case (h, r) => (h, r, 0L, "") }
      .toDF("host", "rules", "fetch_time", "rules_md5")
    Inputs(spark, spark.read.parquet(store.toString), seeds, robots)
  }

  private var stepT = System.nanoTime()
  private def step(what: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $what ${(now - stepT) / 1e9}%.2f s")
    stepT = now
  }

  /** One complete set-up: a fresh session and the seeded page store written
    * to parquet, which the program reads back, so the crawl does not re-run
    * the generator. */
  def setup(w: Workload, seed: Long, work: Path): Inputs = {
    stepT = System.nanoTime()
    stopSession()
    Host.deleteTree(work)
    Files.createDirectories(work)
    val spark = session(Cores, work)
    val site = Workloads.site(w, seed)
    step("setup session")
    val store = work.resolve("store")
    writeStore(spark, w, site, seed, store)
    step("setup store")
    inputs(spark, w, site, store)
  }

  /** A short crawl of a two-host site of the workload's shape, so the timed
    * calls do not pay for class loading and first JIT of the crawl path. */
  def warmUp(in: Inputs, w: Workload, seed: Long, work: Path): Unit = {
    val spark = in.spark
    val small = Workloads.site(w, seed).copy(nHosts = 2)
    val warmStore = work.resolve("warm-store")
    writeStore(spark, w, small, seed, warmStore)
    val warm = inputs(spark, w, small, warmStore)
    val warmDir = work.resolve("warm")
    Crawl.run(spark, warm.seeds, warm.pages, warm.robots, warmDir.toString, w.cfg.copy(maxEpochs = WarmEpochs))
    Host.deleteTree(warmDir)
    step("warm-up")
  }

  /** The expected outcome of every call: generator spans of every page, the
    * drained crawl's sets and, where the visit order is deterministic, the
    * oracle's visits. Plain driver work plus one Spark pass over the pages. */
  def expect(in: Inputs, w: Workload, seed: Long, work: Path): Env = {
    val spark = in.spark
    import spark.implicits._
    val site = Workloads.site(w, seed)
    val spanHash = spark.range(0, Synth.pageCount(site), 1, 16)
      .map { i => val p = Synth.pageAt(site, i); (p.url, Check.spanHash(p.expectedSpans)) }
      .collect().toMap
    val exp = Workloads.expected(w, site, seed)
    val oracleVisits =
      if (w.listSeeds) Some(exp.seen.toSeq.sorted.zipWithIndex.map { case (u, i) => (0, i + 1, u, 0) })
      else if (!w.throttle) Some(SeqOracle.crawl(site, w.cfg).visits)
      else None
    step("expected outcome")
    new Env(in, w, seed, site, work, exp, spanHash, oracleVisits)
  }

  private def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** One timed call on a fresh run directory, then its (untimed) output check. */
  def call(env: Env, runDir: Path, onStart: () => Unit = () => ()): Call = {
    val in = env.in
    Host.deleteTree(runDir)
    System.gc()
    onStart()
    Host.resetPeakRss()
    val (gc0, cpu0, mj0, sj0) = (Host.gcMs(), Host.cpuNs(), Host.machineJiffies(), Host.selfJiffies())
    val jit0 = Host.jitMs()
    val start = nowMicros()
    val n0 = System.nanoTime()
    val error =
      try {
        Crawl.run(in.spark, in.seeds, in.pages, in.robots, runDir.toString, env.w.cfg)
        None
      } catch { case t: Throwable => Some(t.toString) }
    val wallS = (System.nanoTime() - n0) / 1e9
    val end = nowMicros()
    val (gc1, cpu1, mj1, sj1) = (Host.gcMs(), Host.cpuNs(), Host.machineJiffies(), Host.selfJiffies())
    val jitMs = Host.jitMs() - jit0
    val rss = Host.peakRssMb()
    val (bytes, files) = Host.du(runDir)
    val ms = if (Files.isDirectory(runDir)) Manifest.all(runDir) else Nil
    // the bootstrap record carries no `fetched`; only crawl epochs fetch
    val pages = ms.filter(_.crawled).map(_.fetched).sum
    val firstDocs = ms.find(m => m.crawled && m.fetched > 0).map(m => (m.mtimeMicros - start) / 1e6).getOrElse(wallS)
    step(f"call ${pages} pages")
    val outcome = error match {
      case Some(e) => Check.Outcome(env.expectedDocs.size, env.expectedDocs.size, Seq(e))
      case None =>
        try check(env, runDir, ms)
        catch { case t: Throwable =>
          Check.Outcome(env.expectedDocs.size, env.expectedDocs.size, Seq(s"check threw $t")) }
    }
    step("check")
    Call(wallS, pages, firstDocs, (cpu1 - cpu0) / 1e6,
      gc1 - gc0, jitMs, bytes, files, rss,
      (cpu1 - cpu0) / 1e9 / wallS / Cores,
      math.max(0.0, ((mj1 - mj0) - (sj1 - sj0)) / Host.UserHz / wallS),
      start, end, ms, outcome, error)
  }

  /** Checks every doc's span sequence and the call's crawl invariants. */
  def check(env: Env, runDir: Path, ms: Seq[Manifest]): Check.Outcome = {
    val spark = env.spark
    import spark.implicits._
    val rd = runDir.toString
    val docs = Crawl.docs(spark, rd)
      .select("doc_id", "spans").as[(String, Seq[Span])]
      .map { case (id, spans) => (id, Check.spanHash(spans)) }
      .collect().toSeq
    val visits = Crawl.visits(spark, rd)
      .select("epoch", "visit_rank", "url", "depth").as[(Int, Int, String, Int)]
      .collect().toSeq
    val seen = Crawl.seenSet(spark, rd).as[Long].collect().toSet
    val visited = visits.map(_._3)
    val rules = Workloads.robotsRules(env.w, env.site).toMap
    val docIds = docs.map(_._1)
    val crawled = ms.filter(_.crawled)
    val last = ms.last
    val inv = Seq.newBuilder[(Boolean, String)]
    inv += (visited.distinct.size == visited.size) -> "a URL was visited twice"
    inv += (seen == env.seenHashes) -> s"seen set has ${seen.size} hashes, expected ${env.seenHashes.size}"
    inv += docIds.forall(u => Robots.canFetch(rules.getOrElse(Urls.host(u), null), u, env.w.cfg.userAgent)) ->
      "a robots-disallowed URL yielded a doc"
    inv += !docIds.exists(env.exp.failed) -> "a throttled (429) page yielded a doc"
    env.oracleVisits.foreach { o =>
      inv += (visits == o) -> s"visit order differs from the oracle (${visits.size} vs ${o.size} visits)"
    }
    if (env.w.throttle) {
      inv += (last.seenTotal == crawled.map(_.admitted).sum + last.queued) ->
        "seen != fetched + failed + robots-blocked + still queued"
      inv += (crawled.map(_.failed).sum == env.exp.failed.size) -> "failed count differs from the 429 pages reached"
      inv += (crawled.map(_.skipped).sum == env.exp.blocked.size) -> "robots-blocked count differs"
    }
    Check.outcome(docs, env.expectedDocs, inv.result())
  }
}
