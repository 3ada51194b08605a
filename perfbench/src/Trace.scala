package perfbench

import graft.core.{Synth, Urls, Xxh64}
import graft.frontier.{Crawl, SeenStore}
import graft.politeness.{DomainState, Robots}
import graft.scrape.Scrape
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.{col, udf}
import scala.jdk.CollectionConverters._

/** The traced run: per-layer metrics for the layers the crawl is built from.
  *
  * Spark is observed through a listener the benchmark registers itself; the
  * epochs come from the committed manifests (end = mtime, start = end −
  * wall_ms). Spans call → epoch → job → stage are kept in memory and written
  * to `<work>/../traces/` when the run ends. Single-thread layer timings run
  * on the driver over the workload's own pages and the last call's output.
  */
object Trace {
  type Metric = (String, Double, String)

  final case class Traced(call: Call, jobs: Seq[Recorder.Job], stages: Seq[Recorder.Stage],
      tasks: Seq[Recorder.Task])

  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

  /** One unmeasured call, then untraced and traced calls alternate for
    * `seconds` (untraced first and last), then the layer timings, then the
    * scaling legs. Returns the untraced calls, every call made, and the
    * per-layer metrics. */
  def run(env: Env, runDir: Path, a: Main.Args): (Seq[Call], Seq[Call], Seq[Metric]) = {
    val sc = env.spark.sparkContext
    val rec = new Recorder
    def tracedCall(): Traced = {
      sc.addSparkListener(rec)
      try {
        val c = Bench.call(env, runDir, () => rec.clear())
        org.apache.spark.PerfbenchBus.drain(sc)
        val (lo, hi) = (c.startMicros / 1000, c.endMicros / 1000)
        val jobs = rec.jobs.asScala.toSeq.filter(j => j.start >= lo && j.start <= hi)
        val ids = jobs.flatMap(_.stageIds).toSet
        val stages = rec.stages.asScala.toSeq.filter(s => ids(s.id))
        Traced(c, jobs, stages, rec.tasks.asScala.toSeq.filter(t => ids(t.stageId)))
      } finally sc.removeSparkListener(rec)
    }
    // the first full-size call compiles far more than the calls after it
    // (about twice the JIT time on crawl_bfs); it is checked but measures nothing
    val first = Bench.call(env, runDir)
    val t0 = System.nanoTime()
    val plainB = Seq.newBuilder[Call]
    val tracedB = Seq.newBuilder[Traced]
    plainB += Bench.call(env, runDir)
    do {
      tracedB += tracedCall()
      plainB += Bench.call(env, runDir)
    } while ((System.nanoTime() - t0) / 1e9 < a.seconds)
    val (plain, traced) = (plainB.result(), tracedB.result())

    val spans = spanTree(traced)
    val self = selfTime(spans)
    writeSpans(a, env.w.name, spans, self)
    val groups = (a.jobGroups ++ traced.flatMap(_.jobs.map(_.group))).distinct.sorted
    val loop = traced.map(loopMetrics(_, groups)).transpose
      .map(ms => (ms.head._1, Stats.median(ms.map(_._2)), ms.head._3))
    val unattributed = Stats.median(spans.filter(_.parent < 0).map(s => self(s.id) / 1000.0))
    val tail = epochTail((plain ++ traced.map(_.call)).flatMap(_.epochMs))
    // each traced call against the mean of the untraced calls on either side,
    // so JIT warm-up over the run does not count as listener cost
    val overhead = Stats.median(traced.indices.map { i =>
      traced(i).call.wallS / ((plain(i).wallS + plain(i + 1).wallS) / 2) - 1.0
    })
    // the run directory holds the last untraced call's output
    val layers = coreAndScrape(env) ++ politeness(env, runDir, plain.last) ++
      seen(env, runDir, plain.last)

    // scaling legs local[4], local[1], local[4], each on a fresh session; the
    // one-core leg is compared with the mean of its neighbours, so a drift
    // over the three (JIT, the host) cancels to first order
    val legs = Seq(Bench.Cores, 1, Bench.Cores).map { cores =>
      Bench.stopSession()
      val spark = Bench.session(cores, env.work)
      Bench.call(env.withInputs(Bench.inputs(spark, env.w, env.site, env.work.resolve("store"))), runDir)
    }
    val eff = (legs(0).pagesPerS + legs(2).pagesPerS) / 2 / (Bench.Cores * legs(1).pagesPerS)
    val legFlip = History.creditFlip(a.work, s"${env.w.name}-local1", Seq(legs(1).pagesPerS))

    val metrics = layers ++ loop ++ tail ++ Seq(
      ("spark.scale_eff_1to4", eff, "ratio"),
      ("spark.scale_leg_flip", if (legFlip) 1.0 else 0.0, "flag"),
      ("trace.unattributed_ms", unattributed, "ms"),
      ("trace.overhead_share", overhead, "share"))
    (plain, first +: (plain ++ traced.map(_.call) ++ legs), metrics)
  }

  // ---- spans -----------------------------------------------------------------

  /** call → epoch → job → stage for every traced call; ids are unique per run. */
  def spanTree(traced: Seq[Traced]): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(parent: Int, name: String, s: Long, e: Long): Int = {
      next += 1; out += Span(next, parent, name, s, e); next
    }
    traced.foreach { t =>
      val c = t.call
      val callId = add(-1, "call", c.startMicros, c.endMicros)
      val epochs = c.crawlEpochs.map { m =>
        (add(callId, s"epoch-${m.epoch - 1}", m.mtimeMicros - m.wallMs * 1000, m.mtimeMicros),
          m.mtimeMicros - m.wallMs * 1000, m.mtimeMicros)
      }
      val stageById = t.stages.map(s => s.id -> s).toMap
      t.jobs.sortBy(_.start).foreach { j =>
        val (js, je) = (j.start * 1000, j.end * 1000)
        val parent = epochs.find { case (_, s, e) => js >= s && js <= e }.map(_._1).getOrElse(callId)
        val jobId = add(parent, s"job:${j.group}", js, je)
        j.stageIds.flatMap(stageById.get).foreach { s =>
          add(jobId, s"stage:${s.name}", s.submit * 1000, s.end * 1000)
        }
      }
    }
    out.result()
  }

  /** Span duration minus the part of it its children cover, µs. */
  def selfTime(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      s.id -> (s.endUs - s.startUs - covered)
    }.toMap
  }

  private def writeSpans(a: Main.Args, workload: String, spans: Seq[Span], self: Map[Int, Long]): Unit = {
    val dir = a.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString, "self_us" -> self(s.id).toString))
    }
    Files.writeString(dir.resolve(s"$workload-seed${a.seed}.jsonl"), lines.mkString("", "\n", "\n"))
  }

  // ---- frontier.crawl: the epoch loop as Spark saw it ------------------------

  /** Loop metrics of one traced call; job wall and count for each of `groups`. */
  def loopMetrics(t: Traced, groups: Seq[String]): Seq[Metric] = {
    val c = t.call
    val epochs = c.crawlEpochs
    val nE = math.max(epochs.size, 1).toDouble
    val pages = math.max(c.pages, 1L).toDouble
    val epochWallMs = epochs.map(_.wallMs).sum.toDouble
    val stageSubmit = t.stages.map(s => s.id -> s.submit).toMap
    val execCpuMs = t.tasks.map(_.cpuNs).sum / 1e6
    val lag = epochs.map { m =>
      val endMs = m.mtimeMicros / 1000.0
      val lastJob = t.jobs.map(_.end.toDouble).filter(_ <= endMs + 1).maxOption.getOrElse(endMs)
      endMs - lastJob
    }
    val byGroup = t.jobs.groupBy(_.group)
    val p = "frontier.crawl."
    Seq(
      (p + "epochs", epochs.size.toDouble, "count"),
      (p + "idle_epochs", epochs.count(_.admitted == 0).toDouble, "count"),
      (p + "jobs_per_epoch", t.jobs.size / nE, "count"),
      (p + "stages_per_epoch", t.stages.size / nE, "count"),
      (p + "tasks_per_epoch", t.tasks.size / nE, "count"),
      (p + "core_idle_share", 1.0 - t.tasks.map(_.runMs).sum / (Bench.Cores * math.max(epochWallMs, 1.0)), "share"),
      (p + "task_wait_ms_per_epoch",
        t.tasks.map(k => math.max(0L, k.launch - stageSubmit.getOrElse(k.stageId, k.launch))).sum / nE, "ms"),
      (p + "exec_cpu_ms_per_page", execCpuMs / pages, "ms"),
      (p + "driver_cpu_ms_per_page", (c.cpuMs - execCpuMs) / pages, "ms"),
      (p + "gc_ms_per_page", c.gcMs / pages, "ms"),
      (p + "jit_ms_per_page", c.jitMs / pages, "ms"),
      (p + "outside_epochs_ms", c.wallS * 1000 - epochWallMs, "ms"),
      (p + "store_rows_read_per_page", t.tasks.map(_.recordsRead).sum / pages, "count"),
      (p + "fetch_shuffle_bytes_per_page", t.tasks.map(_.shuffleWriteBytes).sum / pages, "B"),
      (p + "snapshot_bytes_written_per_page", t.tasks.map(_.bytesWritten).sum / pages, "B"),
      (p + "snapshot_files_per_epoch", c.filesAdded / nE, "count"),
      (p + "commit_lag_ms", Stats.median(lag), "ms")) ++
    groups.flatMap { g =>
      val js = byGroup.getOrElse(g, Nil)
      Seq((p + s"job_ms.$g", js.map(j => (j.end - j.start).toDouble).sum, "ms"),
        (p + s"jobs.$g", js.size.toDouble, "count"))
    }
  }

  /** The highest percentile with at least ten epochs beyond it, pooled over
    * the run's calls, with its percentile and sample count. */
  def epochTail(walls: Seq[Long]): Seq[Metric] = {
    val s = walls.sorted.map(_.toDouble)
    val n = s.size
    val (v, pct) = if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n) else (Stats.median(s), 50.0)
    Seq(("frontier.crawl.epoch_ms_tail", v, "ms"), ("frontier.crawl.epoch_ms_tail_pct", pct, "%"),
      ("frontier.crawl.epoch_ms_tail_n", n.toDouble, "count"))
  }

  // ---- single-thread layer timings -------------------------------------------

  private def timeNs(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })

  /** Up to `max` of the workload's pages, evenly spread over the store. */
  private def samplePages(env: Env, max: Int): Seq[Synth.GenPage] = {
    val n = Synth.pageCount(env.site)
    val k = math.min(n, max.toLong)
    (0L until k).map(i => Synth.pageAt(env.site, i * n / k))
  }

  def coreAndScrape(env: Env): Seq[Metric] = {
    val pages = samplePages(env, 1000)
    val docs = pages.map(p => Scrape.scrape(p.url, p.html))
    val hrefs = pages.zip(docs).flatMap { case (p, d) => d.links.map(l => (l.href, p.url)) }
    var sink = 0L
    val scrapeNs = timeNs(3) { pages.foreach(p => sink += Scrape.scrape(p.url, p.html).nWords) }
    val canonNs = timeNs(5) { hrefs.foreach { case (h, base) => sink += Urls.canonicalizeDeep(h, base).length } }
    val hashNs = timeNs(5) { hrefs.foreach { case (h, _) => sink += Xxh64.hashString(h) } }
    if (sink == 42) println("")
    val nH = math.max(hrefs.size, 1).toDouble
    Seq(
      ("core.canon_ns_per_url", canonNs / nH, "ns"),
      ("core.hash_ns_per_url", hashNs / nH, "ns"),
      ("scrape.ms_per_page", scrapeNs / 1e6 / pages.size, "ms"),
      ("scrape.spans_per_page", docs.map(_.spans.size).sum.toDouble / docs.size, "count"),
      ("scrape.links_per_page", docs.map(_.links.size).sum.toDouble / docs.size, "count"))
  }

  def politeness(env: Env, runDir: Path, c: Call): Seq[Metric] = {
    val spark = env.spark
    import spark.implicits._
    val rules = Workloads.robotsRules(env.w, env.site).toMap
    val urls = Crawl.visits(spark, runDir.toString).select("url").as[String].collect().toSeq
    var sink = 0
    val robotsNs = timeNs(5) {
      urls.foreach(u => if (Robots.canFetch(rules.getOrElse(Urls.host(u), null), u, env.w.cfg.userAgent)) sink += 1)
    }
    // DomainState.evolve + hostBudget on the busiest epoch's fetch results
    val epochs = c.crawlEpochs
    val busiest = epochs.maxBy(_.admitted).epoch - 1
    val hostU = udf((u: String) => Urls.host(u))
    val results = Crawl.visits(spark, runDir.toString).where(col("epoch") === busiest)
      .join(env.in.pages.select("url", "status_code"), Seq("url"))
      .select(hostU(col("url")).as("host"), col("status_code")).cache()
    results.count()
    val empty = Seq.empty[(String, Double, Int)].toDF("host", "current_delay", "fail_count")
    val evolveNs = timeNs(3) {
      DomainState.hostBudget(DomainState.evolve(empty, results), env.w.cfg.epochSeconds).collect()
    }
    results.unpersist()
    // queue in front of each crawl epoch = the previous record's frontier_queued
    // (the bootstrap record carries the seeds as its seen_total)
    val queuedBefore = c.manifests.sliding(2).collect {
      case Seq(prev, m) if m.crawled => if (prev.queued >= 0) prev.queued else prev.seenTotal
    }.sum
    val admitted = epochs.map(_.admitted).sum.toDouble
    val attempts = epochs.map(m => m.fetched + m.failed).sum.toDouble
    Seq(
      ("politeness.robots_ns_per_check", robotsNs / math.max(urls.size, 1), "ns"),
      ("politeness.evolve_ms", evolveNs / 1e6, "ms"),
      ("politeness.admit_share", admitted / math.max(queuedBefore, 1L), "share"),
      ("politeness.throttled_share", epochs.map(_.failed).sum / math.max(attempts, 1.0), "share"),
      ("politeness.blocked_share", epochs.map(_.skipped).sum / math.max(admitted, 1.0), "share"))
  }

  /** The seen filter replayed epoch by epoch from the traced call's own
    * artefacts: each epoch's extracted links probed against the filter
    * vector persisted for that epoch, and checked against the exact seen
    * deltas committed before it. */
  def seen(env: Env, runDir: Path, c: Call): Seq[Metric] = {
    val spark = env.spark
    import spark.implicits._
    val rd = runDir.toString
    val cfg = env.w.cfg
    val store = SeenStore.forConfig(cfg.seenFilter, cfg.bloomFpp, cfg.cuckooShards)
    val firstSeen: Map[Long, Int] = spark.read.parquet(s"$rd/seen")
      .select(col("url_hash"), col("epoch").cast("int")).as[(Long, Int)].collect()
      .groupBy(_._1).map { case (h, es) => h -> es.map(_._2).min }
    val from = c.manifests.headOption.map(_.epoch - 1).getOrElse(0)
    val links = Crawl.docs(spark, rd).where(col("epoch") >= from)
      .select(col("epoch"), col("links.href").as("hrefs")).as[(Int, Seq[String])].collect()
    val cands: Seq[(Int, Long)] = links.toSeq.flatMap { case (e, hs) =>
      hs.filter(h => h != null && Urls.isValidCrawlUrl(h) && !Urls.isNonsense(h)).map(h => (e, Urls.urlHash(h)))
    }
    val byEpoch = c.manifests.map(m => m.epoch -> m).toMap
    val loaded = scala.collection.mutable.Map.empty[Int, graft.frontier.SeenDelta]
    def vector(e: Int): Array[graft.frontier.SeenDelta] = {
      val base = byEpoch.get(e).map(_.seenBase.toInt).filter(_ >= 0).getOrElse(0)
      (base to e).flatMap { k =>
        val p = store.path(rd, k)
        if (Files.exists(p)) Some(loaded.getOrElseUpdate(k, store.load(p))) else None
      }.toArray
    }
    val vectors = cands.map(_._1).distinct.map(e => e -> vector(e)).toMap
    var maybe = 0L
    var falseMaybe = 0L
    val probeNs = timeNs(3) {
      maybe = 0; falseMaybe = 0
      cands.foreach { case (e, h) =>
        val fs = vectors(e)
        var i = 0; var hit = false
        while (i < fs.length && !hit) { hit = fs(i).mightContain(h); i += 1 }
        if (hit) {
          maybe += 1
          if (firstSeen.get(h).forall(_ > e)) falseMaybe += 1
        }
      }
    }
    val seenDf = Crawl.seenSet(spark, rd).cache()
    val nSeen = seenDf.count()
    val buildNs = timeNs(3) { store.build(spark, seenDf, "url_hash", nSeen) }
    val candDf = cands.map(_._2).toDF("url_hash").cache()
    candDf.count()
    val antiNs = timeNs(3) { candDf.join(seenDf, Seq("url_hash"), "left_anti").count() }
    candDf.unpersist(); seenDf.unpersist()
    val lastEpoch = c.manifests.last.epoch
    val live = vector(lastEpoch).length
    val base = byEpoch(lastEpoch).seenBase.toInt
    val filterBytes = (math.max(base, 0) to lastEpoch).map(k => store.path(rd, k))
      .filter(Files.exists(_)).map(Files.size).sum
    val n = math.max(cands.size, 1).toDouble
    val s = "frontier.seen."
    Seq(
      (s + "build_ms", buildNs / 1e6, "ms"),
      (s + "probe_ns_per_key", probeNs / n, "ns"),
      (s + "maybe_share", maybe / n, "share"),
      (s + "false_maybe_share", falseMaybe.toDouble / math.max(maybe, 1L), "share"),
      (s + "antijoin_ms", antiNs / 1e6, "ms"),
      (s + "filter_bytes", filterBytes.toDouble, "B"),
      (s + "filters_live", live.toDouble, "count"))
  }
}
