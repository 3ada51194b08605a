package perfbench

import graft.core.Span
import graft.frontier.Crawl
import java.nio.file.Path

/** Shows that the output check fires: a clean crawl passes, and one mutated
  * span, one duplicated doc or one broken invariant each fail it. */
object SelfTest {
  def run(work: Path): Int = {
    val w = Workloads.byName("crawl_bfs").get.copy(hosts = 3)
    val env = Bench.expect(Bench.setup(w, 7L, work), w, 7L, work)
    val spark = env.spark
    import spark.implicits._
    val runDir = work.resolve("call")
    val call = Bench.call(env, runDir)
    val docs = Crawl.docs(spark, runDir.toString).select("doc_id", "spans")
      .as[(String, Seq[Span])].collect().toSeq.sortBy(_._1)
    val actual = docs.map { case (id, s) => (id, Check.spanHash(s)) }
    val (id0, spans0) = docs.head
    val mutatedSpans = spans0.updated(0, spans0.head.copy(text = spans0.head.text + "!"))
    val mutated = actual.map { case (id, h) => if (id == id0) (id, Check.spanHash(mutatedSpans)) else (id, h) }
    val n = env.expectedDocs.size.toLong
    val cases = Seq(
      ("clean call", call.outcome, 0L),
      ("one mutated span", Check.outcome(mutated, env.expectedDocs, Nil), 1L),
      ("one duplicated doc", Check.outcome(actual :+ actual.head, env.expectedDocs, Nil), 1L),
      ("one missing doc", Check.outcome(actual.tail, env.expectedDocs, Nil), 1L),
      ("one broken invariant", Check.outcome(actual, env.expectedDocs, Seq(false -> "a URL was visited twice")), n))
    val results = cases.map { case (what, o, want) =>
      val ok = o.failed == want
      println(s"${if (ok) "ok  " else "FAIL"} $what: failed=${o.failed}/${o.attempted} (want $want) ${o.problems.take(2).mkString("; ")}")
      ok
    }
    if (results.forall(identity)) 0 else 1
  }
}
