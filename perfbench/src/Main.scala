package perfbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--job-groups <g1,g2,...>]
  *   Main --selftest --work <dir>
  *
  * Closed loop: one process, one `Crawl.run` call at a time on local[4]. Set-up
  * (session start and page-store generation) runs three times and reports its
  * median; a warm-up crawl and the expected outcome follow once, untimed; then
  * calls repeat until `seconds` have passed, each followed by its output
  * check. The last stdout line is the result object; the line before it
  * records the host condition of the run. `--job-groups` names the call-site
  * groups the traced run reports even when it records no job there.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: Path = Paths.get(".bench_build/perfbench/work"),
      selftest: Boolean = false, jobGroups: Seq[String] = Nil)

  val SetupReps = 3

  private def parse(argv: List[String], a: Args): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--selftest" :: t => parse(t, a.copy(selftest = true))
    case "--job-groups" :: v :: t => parse(t, a.copy(jobGroups = v.split(",").toSeq.filter(_.nonEmpty)))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args())
    val code =
      try {
        if (a.selftest) SelfTest.run(a.work)
        else Workloads.byName(a.workload) match {
          case None =>
            System.err.println(s"unknown workload '${a.workload}' (${Workloads.all.map(_.name).mkString(", ")})")
            2
          case Some(w) => run(w, a)
        }
      } catch { case t: Throwable => t.printStackTrace(); 1 }
      finally {
        Bench.stopSession()
        Host.deleteTree(a.work)
      }
    sys.exit(code)
  }

  def run(w: Workload, a: Args): Int = {
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val in = Bench.setup(w, a.seed, a.work)
      (in, (System.nanoTime() - t0) / 1e9)
    }
    val in = setups.last._1
    Bench.warmUp(in, w, a.seed, a.work)
    val env = Bench.expect(in, w, a.seed, a.work)
    val setupS = Stats.median(setups.map(_._2))
    val runDir = a.work.resolve("call")

    // end-to-end figures come from untraced calls only
    val (plain, calls, layerMetrics) =
      if (a.trace) Trace.run(env, runDir, a)
      else {
        val t0 = System.nanoTime()
        val out = Seq.newBuilder[Call]
        do out += Bench.call(env, runDir) while ((System.nanoTime() - t0) / 1e9 < a.seconds)
        val plain = out.result()
        (plain, plain, Seq.empty[(String, Double, String)])
      }

    val attempted = calls.map(_.outcome.attempted).sum
    val failed = calls.map(_.outcome.failed).sum
    val correct = calls.forall(_.outcome.ok)
    calls.filterNot(_.outcome.ok).foreach(c => System.err.println(s"[perfbench] check failed: ${c.outcome.problems.mkString("; ")}"))
    val flip = History.creditFlip(a.work, w.name, plain.map(_.pagesPerS)) ||
      layerMetrics.exists(m => m._1 == "spark.scale_leg_flip" && m._2 > 0)

    def med(f: Call => Double) = Stats.median(plain.map(f))
    val endToEnd = Seq(
      ("pages_per_s", med(_.pagesPerS), "1/s"),
      ("first_docs_s", med(_.firstDocsS), "s"),
      ("epoch_ms_p50", med(_.epochP50), "ms"),
      ("cpu_ms_per_page", med(_.cpuMsPerPage), "ms"),
      ("snapshot_bytes_per_page", med(_.bytesPerPage), "B"),
      ("rss_peak_mb", med(_.rssPeakMb), "MB"),
      ("setup_s", setupS, "s"))

    val hostRec = Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "calls" -> calls.size.toString,
      "setup_s_each" -> Json.arr(setups.map(s => Json.num(s._2))),
      "pages_per_s_each" -> Json.arr(calls.map(c => Json.num(c.pagesPerS))),
      "jit_ms_each" -> Json.arr(calls.map(_.jitMs.toString)),
      "gc_ms_each" -> Json.arr(calls.map(_.gcMs.toString)),
      "rss_peak_mb_each" -> Json.arr(calls.map(c => Json.num(c.rssPeakMb))),
      "delivered_cpu" -> Json.num(med(_.deliveredCpu)),
      "other_busy_cores" -> Json.num(med(_.otherCores)),
      "credit_flip" -> flip.toString,
      "fail_share" -> Json.num(failed.toDouble / math.max(attempted, 1L)),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "pages_in_store" -> graft.core.Synth.pageCount(env.site).toString))
    println(Json.obj(Seq("host" -> hostRec)))

    val metrics =
      if (a.trace) layerMetrics ++ Seq(
        ("host.delivered_cpu", med(_.deliveredCpu), "share"),
        ("host.other_busy_cores", med(_.otherCores), "cores"),
        ("host.credit_flip", if (flip) 1.0 else 0.0, "flag"))
      else endToEnd
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(attempted, 1L).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }
}

/** Per-workload history of pages/s across runs in this checkout, to flag a
  * run whose throughput is more than 3x off the workload's median — the
  * signature of the host's burst credits flipping, not of the code. */
object History {
  def creditFlip(work: Path, workload: String, pps: Seq[Double]): Boolean = {
    val f = work.getParent.resolve("history").resolve(s"$workload.txt")
    Files.createDirectories(f.getParent)
    val past = if (Files.exists(f)) Files.readAllLines(f).toArray.map(_.toString.toDouble).toSeq else Nil
    val all = past ++ pps
    Files.writeString(f, all.mkString("", "\n", "\n"))
    val m = Stats.median(all)
    pps.exists(x => x > 3 * m || x * 3 < m)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0.0" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
